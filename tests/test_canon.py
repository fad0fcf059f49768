from __future__ import annotations

from kgpipe.canon import canonicalize, connected_components, synonym_edges


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")], "src string, dst string"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["z"] == "z"


def test_canonicalize_shared_synonym(spark):
    # SYN:0000001 and SYN:0000002 share variant "shared gadget" (mini.obo
    # union-find case) → both canonicalize to SYN:0000001
    d_rows = [
        ("SYN", "SYN:0000001", "alpha widget", "shared gadget", True, "shared gadget"),
        ("SYN", "SYN:0000002", "beta widget", "shared gadget", True, "shared gadget"),
        ("SYN", "SYN:0000002", "beta widget", "beta widget", True, "beta widget"),
        ("CL", "CL:0000540", "neuron", "neuron", True, "neuron"),
    ]
    dictionary = spark.createDataFrame(
        d_rows,
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    m_rows = [
        ("c1", 0, "SYN", "SYN:0000002", 0, 4, "beta widget", None),
        ("c1", 1, "CL", "CL:0000540", 0, 6, "neuron", None),
    ]
    mentions = spark.createDataFrame(
        m_rows,
        "conv_id string, turn_idx int, ontology string, concept_id string,"
        " begin int, end int, covered_text string, error string",
    )
    out = {(r.concept_id, r.canonical_id) for r in
           canonicalize(mentions, dictionary).collect()}
    assert ("SYN:0000002", "SYN:0000001") in out
    assert ("CL:0000540", "CL:0000540") in out  # unmerged id maps to itself


def test_canonicalize_driver_edge_bound(spark, monkeypatch):
    """canonicalize(driver_side=True) refuses corpus-sized edge lists (the
    driver-side contract is ontology-sized); driver_side=False handles the
    same edges through distributed connected_components."""
    import pytest

    from kgpipe import canon

    dictionary = spark.createDataFrame(
        [("SYN", "SYN:1", "a", "a gadget", True, "a gadget")],
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    mentions = spark.createDataFrame(
        [("c1", 0, "SYN", f"X:{i}", 0, 1, "x", None) for i in range(6)],
        "conv_id string, turn_idx int, ontology string, concept_id string,"
        " begin int, end int, covered_text string, error string",
    )
    extra = spark.createDataFrame(
        [(f"X:{i}", f"X:{i + 1}") for i in range(5)], "src string, dst string"
    )
    monkeypatch.setattr(canon, "MAX_DRIVER_EDGES", 3)
    with pytest.raises(ValueError, match="driver_side=False"):
        canon.canonicalize(mentions, dictionary, extra_edges=extra).collect()
    out = {(r.concept_id, r.canonical_id) for r in
           canon.canonicalize(mentions, dictionary, extra_edges=extra,
                              driver_side=False).collect()}
    assert out == {(f"X:{i}", "X:0") for i in range(6)}


def test_synonym_edges_star_topology(spark):
    d_rows = [
        ("O", f"O:{i}", "x", "shared", True, "shared") for i in range(5)
    ]
    dictionary = spark.createDataFrame(
        d_rows,
        "ontology string, concept_id string, canonical string, variant string,"
        " is_official boolean, variant_norm string",
    )
    edges = synonym_edges(dictionary).collect()
    assert len(edges) == 4  # star: n-1 edges, not n*(n-1)/2
    assert all(e.src == "O:0" for e in edges)


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping (path doubling): a 100-node chain resolves within
    max_iter=12 rounds (~log2 diameter), where plain one-hop min-label
    propagation would need ~100."""
    from kgpipe.canon import connected_components

    edges = spark.createDataFrame(
        [(f"N{i:03d}", f"N{i+1:03d}") for i in range(99)],
        "src string, dst string",
    )
    got = {r.node: r.component
           for r in connected_components(edges, max_iter=12).collect()}
    assert len(got) == 100
    assert set(got.values()) == {"N000"}


def test_rewrite_triples(spark):
    from kgpipe.canon import rewrite_triples

    tri = spark.createDataFrame(
        [("x", "p", "y", 7), ("y", "p", "z", 8), ("a", "q", "x", 9),
         ("x", "p", "y", 10)],  # duplicate pattern -> multiset kept
        ["subj", "pred", "obj", "extra"])
    m = spark.createDataFrame([("y", "x"), ("z", "x")], ["id", "canon"])
    got = [(r["subj"], r["pred"], r["obj"], r["extra"])
           for r in rewrite_triples(tri, m).collect()]
    assert sorted(got) == sorted([
        ("x", "p", "x", 7), ("x", "p", "x", 8), ("a", "q", "x", 9),
        ("x", "p", "x", 10)])


def _all_concept_mentions(spark, dictionary):
    """One mention per dictionary concept, plus one the dictionary lacks."""
    from kgpipe import schemas

    ids = sorted({r.concept_id for r in
                  dictionary.select("concept_id").distinct().collect()})
    rows = [{"conv_id": "c", "turn_idx": i, "ontology": "O",
             "concept_id": cid, "begin": 0, "end": 1, "covered_text": "x",
             "error": None} for i, cid in enumerate(ids + ["ZZ:absent"])]
    return schemas.local_frame(spark, rows, schemas.MENTIONS)


def _canon_pairs(df):
    return {(r.concept_id, r.canonical_id) for r in df.collect()}


def _assert_routes_agree(spark, dictionary):
    """Driver rows (the default) == synonym_edges + driver DSU (reached
    through an empty extra_edges frame) == distributed components."""
    mentions = _all_concept_mentions(spark, dictionary)
    no_edges = spark.createDataFrame([], "src string, dst string")
    rows_route = _canon_pairs(canonicalize(mentions, dictionary))
    edges_route = _canon_pairs(
        canonicalize(mentions, dictionary, extra_edges=no_edges))
    distributed = _canon_pairs(
        canonicalize(mentions, dictionary, driver_side=False))
    assert rows_route == edges_route == distributed
    return rows_route


def test_canonicalize_routes_agree_on_fixture_ontologies(spark):
    from conftest import MINI_OBO
    from kgpipe.detect import build_dictionary_df

    owl = MINI_OBO.replace("mini.obo", "mini.owl")
    for paths in ({"SYN": MINI_OBO}, {"CL": owl}, {"SYN": MINI_OBO, "CL": owl}):
        got = _assert_routes_agree(spark, build_dictionary_df(spark, paths))
        assert ("ZZ:absent", "ZZ:absent") in got
    got = _assert_routes_agree(
        spark, build_dictionary_df(spark, {"SYN": MINI_OBO}))
    assert ("SYN:0000002", "SYN:0000001") in got


def test_canonicalize_routes_agree_on_chained_shared_synonyms(spark):
    """D~C share "x", C~B share "y", B~A share "z": one component through a
    chain no single synonym group spans; E~F form a second one; G is
    alone.  The frame is built directly, so the driver-rows route collects
    it (no cached driver rows)."""
    from kgpipe import schemas

    links = [("O:D", "x"), ("O:C", "x"), ("O:C", "y"), ("O:B", "y"),
             ("O:B", "z"), ("O:A", "z"), ("O:F", "w"), ("O:E", "w"),
             ("O:G", "solo"), ("O:G", ""), ("O:A", None)]
    dictionary = schemas.local_frame(spark, [
        {"ontology": "O", "concept_id": c, "canonical": c, "variant": v,
         "is_official": True, "variant_norm": v} for c, v in links
    ], schemas.DICTIONARY)
    got = _assert_routes_agree(spark, dictionary)
    assert got == {("O:A", "O:A"), ("O:B", "O:A"), ("O:C", "O:A"),
                   ("O:D", "O:A"), ("O:E", "O:E"), ("O:F", "O:E"),
                   ("O:G", "O:G"), ("ZZ:absent", "ZZ:absent")}
