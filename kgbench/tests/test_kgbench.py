"""Tests of the benchmark itself (no Spark): the generator is a pure
function of the seed, its golden set is exact under kgpipe's own scan
kernel, and the metric names it prints match BENCHMARK.json.

    python -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import gen  # noqa: E402

KINDS = ("chat", "agent")


@pytest.fixture(scope="module")
def onto():
    return gen.make_ontology(7, 600)


@pytest.fixture(scope="module", params=KINDS)
def corpus(request, onto):
    return gen.make_corpus(7, onto, request.param, 150)


def test_generator_is_deterministic(onto):
    again = gen.make_ontology(7, 600)
    assert again.obo_text == onto.obo_text
    assert again.plantable == onto.plantable
    for kind in KINDS:
        a = gen.make_corpus(7, onto, kind, 80)
        b = gen.make_corpus(7, again, kind, 80)
        assert a.rows == b.rows and a.golden == b.golden
        assert a.n_structure == b.n_structure


def test_seed_changes_inputs(onto):
    assert gen.make_ontology(8, 600).obo_text != onto.obo_text
    assert gen.make_corpus(8, onto, "chat", 80).rows != \
        gen.make_corpus(7, onto, "chat", 80).rows


def test_planted_offsets_slice_to_surfaces(corpus):
    text = {(r["conv_id"], r["turn_idx"]): r["text"] for r in corpus.rows}
    assert corpus.golden
    for conv_id, ti, b, e, surface, accepted in corpus.golden:
        assert text[(conv_id, ti)][b:e] == surface
        assert accepted and all(a.startswith(gen.OBO_PREFIX)
                                for a in accepted)


def test_corpus_has_exactly_the_asked_turns(onto):
    for kind in KINDS:
        for seed in (7, 8, 9):
            rows = gen.make_corpus(seed, onto, kind, 150).rows
            assert len(rows) == 150
            assert len({(r["conv_id"], r["turn_idx"]) for r in rows}) == 150


def test_structure_count(corpus):
    convs = {r["conv_id"] for r in corpus.rows}
    tools = sum(r["tool"] is not None for r in corpus.rows)
    assert corpus.n_structure == len(convs) + 2 * len(corpus.rows) + tools


def test_agent_corpus_has_null_text_and_long_tool_turns(onto):
    c = gen.make_corpus(7, onto, "agent", 600)
    tool_texts = [r["text"] for r in c.rows if r["role"] == "tool"]
    assert any(t is None for t in tool_texts)
    assert min(len(t) for t in tool_texts if t is not None) >= 1000


def test_golden_is_exact_under_kgpipe_kernel(onto, corpus):
    """Scanning every turn with the trie built from the generated OBO finds
    exactly the planted spans, each with a concept in its accepted set."""
    from kgpipe.canon import components_from_rows
    from kgpipe.detect import build_tries
    from kgpipe.normalize import config_for
    from kgpipe.obo import dictionary_rows, parse_obo

    rows = dictionary_rows(parse_obo(onto.obo_text, from_text=True),
                           gen.ONTOLOGY, config_for(gen.ONTOLOGY))
    trie = build_tries(rows)[gen.ONTOLOGY]
    comp = components_from_rows(rows)
    gold = {(c, t, b, e): acc for c, t, b, e, _s, acc in corpus.golden}
    found = {}
    for r in corpus.rows:
        if r["text"] is None:
            continue
        for _ont, cid, b, e, _cov in trie.scan_text(r["text"]):
            found.setdefault((r["conv_id"], r["turn_idx"], b, e),
                             set()).add(cid)
    assert set(found) == set(gold)
    for key, cids in found.items():
        for cid in cids:
            assert gen.concept_uri(comp.get(cid, cid)) in gold[key]


def test_metric_names_match_benchmark_json():
    from kgbench.run import E2E_METRICS, WORKLOADS
    from kgbench.trace import LAYER_METRICS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == \
        {w.name: w.why for w in WORKLOADS.values()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: unit for k, (unit, _better) in LAYER_METRICS.items()}
    assert {m["name"]: m["better"] for m in spec["per_layer"]} == \
        {k: better for k, (_unit, better) in LAYER_METRICS.items()}
    assert spec["command"] == ["python3", "kgbench/run.py"]
