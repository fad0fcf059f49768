from __future__ import annotations

from pyspark.sql import functions as F

from kgpipe.triples import (
    IAO_DOCUMENT,
    PRED_COOCCURS,
    PRED_DENOTES,
    PRED_ROLE,
    PRED_TOOL,
    RDF_TYPE,
    all_triples,
    cooccurrence_triples,
    mention_triples,
    to_ntriples_lines,
)

T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")
M_SCHEMA = ("conv_id string, turn_idx int, ontology string, concept_id string,"
            " begin int, end int, covered_text string, error string")


def _frames(spark):
    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "user", "the neuron fires", None, None),
            ("c1", 1, "tool", "lookup", "search", None),
        ],
        T_SCHEMA,
    )
    mentions = spark.createDataFrame(
        [
            ("c1", 0, "CL", "CL:0000540", 4, 10, "neuron", None),
            ("c1", 1, "CL", "CL:0000000", 0, 6, "lookup", None),
        ],
        M_SCHEMA,
    )
    return transcripts, mentions


def test_mention_triples_uris(spark):
    _, mentions = _frames(spark)
    rows = mention_triples(mentions).collect()
    r = [x for x in rows if x.turn_idx == 0][0]
    assert r.subj == "https://kg.example.org/conv/c1#t0"
    assert r.pred == PRED_DENOTES
    assert r.obj == "http://purl.obolibrary.org/obo/CL_0000540"
    assert r.evidence.begin == 4 and r.evidence.text == "neuron"


def test_iri_passthrough(spark):
    mentions = spark.createDataFrame(
        [("c1", 0, "X", "http://example.com/x", 0, 1, "x", None)], M_SCHEMA
    )
    assert mention_triples(mentions).first().obj == "http://example.com/x"


def test_cooccurrence_window_and_dedupe(spark):
    mentions = spark.createDataFrame(
        [
            ("c1", 0, "CL", "CL:A", 0, 1, "a", None),
            ("c1", 2, "CL", "CL:B", 0, 1, "b", None),
            ("c1", 9, "CL", "CL:C", 0, 1, "c", None),  # outside window of t0
        ],
        M_SCHEMA,
    )
    rows = cooccurrence_triples(mentions, window=3).collect()
    pairs = {(r.subj, r.obj) for r in rows}
    assert pairs == {
        (
            "http://purl.obolibrary.org/obo/CL_A",
            "http://purl.obolibrary.org/obo/CL_B",
        )
    }
    assert all(r.pred == PRED_COOCCURS for r in rows)


def test_all_triples_families(spark):
    transcripts, mentions = _frames(spark)
    t = all_triples(transcripts, mentions).cache()
    preds = {r.pred for r in t.select("pred").distinct().collect()}
    assert {RDF_TYPE, PRED_DENOTES, PRED_ROLE, PRED_TOOL, PRED_COOCCURS} <= preds
    conv_type = t.filter(
        (F.col("pred") == RDF_TYPE) & (F.col("obj") == IAO_DOCUMENT)
    )
    assert conv_type.count() == 1  # one conversation node


def test_ntriples_rendering(spark):
    _, mentions = _frames(spark)
    lines = [r.value for r in to_ntriples_lines(mention_triples(mentions)).collect()]
    assert any(
        line
        == "<https://kg.example.org/conv/c1#t0> <http://purl.org/kgpipe/denotes>"
        " <http://purl.obolibrary.org/obo/CL_0000540> ."
        for line in lines
    )
    # literal objects get quoted
    transcripts, _ = _frames(spark)
    from kgpipe.triples import conversation_triples

    role_lines = [
        r.value
        for r in to_ntriples_lines(
            conversation_triples(transcripts).filter(F.col("pred") == PRED_ROLE)
        ).collect()
    ]
    assert any('"user"' in line for line in role_lines)


def _sorted_rows(df):
    return sorted(map(tuple, df.select("subj", "pred", "obj").collect()))


def test_snapshot_write_commit_and_read(spark, tmp_path):
    from kgpipe.triples import (
        committed_snapshot,
        read_triples_snapshot,
        write_triples_snapshot,
    )

    transcripts, mentions = _frames(spark)
    triples = all_triples(transcripts, mentions)
    path = str(tmp_path / "tbl")
    m1 = write_triples_snapshot(triples, path, n_buckets=4)
    assert committed_snapshot(path) == "snap-1"
    assert m1["n_triples"] == triples.count()
    assert sum(m1["bucket_counts"].values()) == m1["n_triples"]
    got1 = _sorted_rows(read_triples_snapshot(spark, path))
    assert got1 == _sorted_rows(triples)

    # second commit becomes a NEW snapshot; reader follows the pointer
    m2 = write_triples_snapshot(triples.limit(3), path, n_buckets=4)
    assert committed_snapshot(path) == "snap-2"
    assert m2["parent"] == "snap-1" and m2["n_triples"] == 3
    assert read_triples_snapshot(spark, path).count() == 3


def test_snapshot_write_crash_consistency(spark, tmp_path):
    """Kill-mid-write: data staged but pointer never flipped -> readers
    still see the previous snapshot; the rerun overwrites the orphan and
    produces a bit-identical committed table with no duplicate bucket."""
    import json
    import os

    from kgpipe.triples import (
        committed_snapshot,
        read_triples_snapshot,
        write_triples_snapshot,
    )

    transcripts, mentions = _frames(spark)
    triples = all_triples(transcripts, mentions)
    path = str(tmp_path / "tbl")
    write_triples_snapshot(triples, path, n_buckets=4)
    want = _sorted_rows(read_triples_snapshot(spark, path))

    # simulate a crash between data write and commit: stage partial data
    # for snap-2 but never rename/flip the pointer
    orphan = os.path.join(path, "snap-2.inprogress")
    from kgpipe.triples import write_triples

    write_triples(triples.limit(2), orphan, n_buckets=4, mode="overwrite",
                  layout="clustered")
    # reader is unaffected by the orphan
    assert committed_snapshot(path) == "snap-1"
    assert _sorted_rows(read_triples_snapshot(spark, path)) == want

    # rerun (the lineage-driven retry): orphan replaced, commit completes
    write_triples_snapshot(triples, path, n_buckets=4)
    assert committed_snapshot(path) == "snap-2"
    assert not os.path.exists(orphan)
    assert _sorted_rows(read_triples_snapshot(spark, path)) == want
    man = json.load(open(os.path.join(path, "snap-2", "_manifest.json")))
    assert man["snapshot"] == "snap-2" and man["parent"] == "snap-1"
    assert sum(man["bucket_counts"].values()) == len(want)


def test_session_triples(spark):
    import datetime as dt

    from kgpipe.triples import PRED_IN_SESSION, session_triples

    def ts(minutes):
        return dt.datetime(2025, 1, 1) + dt.timedelta(minutes=minutes)

    tdf = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, ts(0)),
         ("c1", 1, "assistant", "yo", None, ts(2)),
         ("c1", 2, "user", "later", None, ts(60))],  # 58-min gap -> session 1
        T_SCHEMA,
    )
    got = {(r.subj, r.obj) for r in session_triples(tdf).collect()}
    assert got == {
        ("https://kg.example.org/conv/c1#t0",
         "https://kg.example.org/conv/c1#s0"),
        ("https://kg.example.org/conv/c1#t1",
         "https://kg.example.org/conv/c1#s0"),
        ("https://kg.example.org/conv/c1#t2",
         "https://kg.example.org/conv/c1#s1"),
    }
    assert all(r.pred == PRED_IN_SESSION
               for r in session_triples(tdf).collect())


def test_snapshot_diff(spark):
    from kgpipe.triples import snapshot_diff

    old = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("a", "p", "c"), ("x", "q", "y")],
        ["subj", "pred", "obj"],
    )
    new = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "d"), ("x", "q", "z")],
        ["subj", "pred", "obj"],
    )
    got = {(r["subj"], r["pred"], r["obj"]): r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {
        ("a", "p", "c"): "removed", ("x", "q", "y"): "removed",
        ("a", "p", "d"): "added", ("x", "q", "z"): "added",
    }


def test_merge_triples_snapshot(spark, tmp_path):
    from kgpipe.triples import (
        committed_snapshot, merge_triples_snapshot, read_triples_snapshot,
    )

    base = str(tmp_path / "tbl")
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    t1 = spark.createDataFrame(
        [("s1", "p", "o1", "c1", 0), ("s2", "p", "o2", "c1", 1)], cols)
    m1 = merge_triples_snapshot(spark, base, t1, n_buckets=2)
    assert m1["snapshot"] == "snap-1" and m1["n_triples"] == 2

    # second merge: one overlapping row (deduped), one new
    t2 = spark.createDataFrame(
        [("s2", "p", "o2", "c1", 1), ("s3", "p", "o3", "c2", 0)], cols)
    m2 = merge_triples_snapshot(spark, base, t2, n_buckets=2)
    assert m2["snapshot"] == "snap-2" and m2["n_triples"] == 3
    assert m2["parent"] == "snap-1"
    assert committed_snapshot(base) == "snap-2"

    latest = read_triples_snapshot(spark, base)
    assert latest.count() == 3
    # time travel: snap-1 still readable with its original 2 rows
    old = spark.read.parquet(f"{base}/snap-1")
    assert old.count() == 2


def test_verb_relations(spark):
    from kgpipe.triples import verb_relations

    t = spark.createDataFrame(
        [("c1", 0, "spark joins window fast", None, None, None),
         ("c1", 1, "window precedes spark", None, None, None),
         ("c1", 2, "spark near window", None, None, None)],
        "conv_id string, turn_idx int, text string, role string,"
        " tool string, ts timestamp",
    )
    # token-aligned mention spans (as the detector emits them)
    m = spark.createDataFrame(
        [("c1", 0, "T:SPARK", 0, 5), ("c1", 0, "T:WINDOW", 12, 18),
         ("c1", 1, "T:WINDOW", 0, 6), ("c1", 1, "T:SPARK", 16, 21),
         ("c1", 2, "T:SPARK", 0, 5), ("c1", 2, "T:WINDOW", 11, 17)],
        "conv_id string, turn_idx int, concept_id string,"
        " begin int, end int",
    )
    got = verb_relations(t, m, verbs=["joins", "precedes"]).collect()
    rels = {(r["subj_concept"], r["verb"], r["obj_concept"], r["turn_idx"])
            for r in got}
    # turn 0: spark -joins-> window; turn 1: window -precedes-> spark;
    # turn 2: no trigger verb between the mentions
    assert rels == {("T:SPARK", "joins", "T:WINDOW", 0),
                    ("T:WINDOW", "precedes", "T:SPARK", 1)}


def test_snapshot_diff_summary(spark):
    from kgpipe.triples import snapshot_diff_summary

    old = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y"), ("c", "q", "z")],
        ["subj", "pred", "obj"])
    new = spark.createDataFrame(
        [("a", "p", "x"), ("d", "p", "w"), ("e", "p", "v")],
        ["subj", "pred", "obj"])
    got = {(r["pred"], r["status"]): (r["n_triples"], r["n_subjects"])
           for r in snapshot_diff_summary(old, new).collect()}
    assert got == {("p", "added"): (2, 2), ("p", "removed"): (1, 1),
                   ("q", "removed"): (1, 1)}


def test_anaphora_links(spark):
    from kgpipe.triples import anaphora_links

    t_rows = [
        ("c1", 0, "u", "spark is here", None, None),
        ("c1", 1, "a", "yes it works", None, None),
        ("c1", 2, "u", "vector stuff", None, None),
        ("c1", 3, "a", "try this now", None, None),
        ("c1", 9, "u", "it again", None, None),  # nothing within lookback
        ("c2", 0, "u", "it with no antecedent", None, None),
    ]
    t = spark.createDataFrame(
        t_rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    m_rows = [
        ("c1", 0, "T:0001", 0, 5, "spark"),
        ("c1", 2, "T:0003", 0, 6, "vector"),
        ("c1", 2, "T:0001", 7, 12, "spark"),  # same turn, later begin
    ]
    m = spark.createDataFrame(
        m_rows,
        ["conv_id", "turn_idx", "concept_id", "begin", "end",
         "covered_text"])
    got = {(r["conv_id"], r["turn_idx"]):
           (r["antecedent_turn"], r["concept_id"])
           for r in anaphora_links(m, t, lookback=3).collect()}
    # turn 1's "it" -> the only prior mention (turn 0, spark)
    assert got[("c1", 1)] == (0, "T:0001")
    # turn 3's "this" -> turn 2, latest begin wins (spark at begin 7)
    assert got[("c1", 3)] == (2, "T:0001")
    # turn 9: nearest mention is 7 turns back -> no row; c2 has none
    assert ("c1", 9) not in got and ("c2", 0) not in got
    assert len(got) == 2


def test_anaphora_links_pronouns_are_literal(spark):
    """A regex metacharacter in a pronoun is matched literally: "it." must
    not match the "its" of a turn whose only candidate is "its"."""
    from kgpipe.triples import anaphora_links

    t = spark.createDataFrame(
        [("c1", 0, "u", "spark is here", None, None),
         ("c1", 1, "a", "its fine", None, None),
         ("c2", 0, "u", "spark is here", None, None),
         ("c2", 1, "a", "done with it.", None, None)],
        T_SCHEMA)
    m = spark.createDataFrame(
        [("c1", 0, "T:0001", 0, 5, "spark"),
         ("c2", 0, "T:0001", 0, 5, "spark")],
        ["conv_id", "turn_idx", "concept_id", "begin", "end",
         "covered_text"])
    got = {(r["conv_id"], r["turn_idx"])
           for r in anaphora_links(m, t, pronouns=("it.",)).collect()}
    assert got == {("c2", 1)}


def test_entity_profile(spark):
    from kgpipe.triples import entity_profile
    import pytest as _pt

    rows = [
        ("e1", "hasRole", "user"), ("e1", "usedTool", "t2"),
        ("e1", "usedTool", "t1"),      # multi-valued -> min wins
        ("e2", "hasRole", "assistant"),
        ("e3", "other", "x"),          # no selected predicate -> no row
    ]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    prof = entity_profile(
        t, {"role": "hasRole", "tool": "usedTool"})
    got = {r["entity"]: (r["role"], r["tool"]) for r in prof.collect()}
    assert got == {"e1": ("user", "t1"), "e2": ("assistant", None)}
    with _pt.raises(ValueError):
        entity_profile(t, {})


def test_cooccurrence_pairs_delta_invariant(spark):
    from pyspark.sql import functions as F

    from kgpipe.triples import cooccurrence_pairs, cooccurrence_pairs_delta

    rows = [
        ("c1", t, f"T:{c:04d}", 0, 1, "x")
        for t, c in [(0, 1), (1, 2), (2, 1), (3, 3), (4, 2), (5, 1),
                     (6, 3), (7, 2)]
    ] + [("c2", t, f"T:{c:04d}", 0, 1, "x")
         for t, c in [(0, 1), (5, 2)]]
    m = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "concept_id", "begin", "end",
               "covered_text"])
    cutoff = 3
    full = cooccurrence_pairs(m, window=3)
    old = cooccurrence_pairs(
        m.filter(F.col("turn_idx") <= cutoff), window=3)
    delta = cooccurrence_pairs_delta(m, new_after=cutoff, window=3)
    merged = (
        old.unionByName(delta)
        .groupBy("conv_id", "ca", "cb")
        .agg(F.sum("n").alias("n"))
    )
    f = {(r["conv_id"], r["ca"], r["cb"]): r["n"] for r in full.collect()}
    g = {(r["conv_id"], r["ca"], r["cb"]): r["n"]
         for r in merged.collect()}
    assert f == g and len(f) > 0
    # the delta alone contains only new-involving events
    d = {(r["conv_id"], r["ca"], r["cb"]): r["n"] for r in delta.collect()}
    assert all(v >= 1 for v in d.values()) and d != f
