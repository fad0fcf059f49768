"""The shared per-turn scan kernel (``trie.TurnScanner``) and its memoized
normalizer (``MatchConfig.normalizer``): same answers as the unmemoized
per-trie scan, one memo per config, and one null rule in every plan."""

from __future__ import annotations

import itertools

from hypothesis import example, given, settings, strategies as st

from conftest import MINI_OBO
from kgpipe.detect import build_dictionary_df, build_tries, detect_mentions
from kgpipe.fused import fused_conv_triples
from kgpipe.normalize import (
    CASE_FOLD_DIGITS,
    CASE_IGNORE,
    CASE_INSENSITIVE,
    CASE_SENSITIVE,
    IRREGULAR_LEMMAS,
    ONTOLOGY_CONFIGS,
    PUBMED_STOPWORDS,
    STEM_BIOLEMMATIZER,
    STEM_NONE,
    STEM_PORTER,
    STOP_NONE,
    STOP_PUBMED,
    MatchConfig,
)
from kgpipe.obo import dictionary_rows, parse_ontology
from kgpipe.trie import TurnScanner, pretokenize
from kgpipe.triples import PRED_DENOTES

MINI_OWL = MINI_OBO[:-len(".obo")] + ".owl"

CONFIGS = list(dict.fromkeys(
    list(ONTOLOGY_CONFIGS.values()) + [
        MatchConfig(case_match=c, stemmer=s, stopwords=w)
        for c, s, w in itertools.product(
            (CASE_SENSITIVE, CASE_INSENSITIVE, CASE_IGNORE, CASE_FOLD_DIGITS),
            (STEM_NONE, STEM_PORTER, STEM_BIOLEMMATIZER),
            (STOP_NONE, STOP_PUBMED),
        )
    ]
))


def _recase(word: str, pattern: list[bool]) -> str:
    return "".join(ch.upper() if up else ch
                   for ch, up in zip(word, pattern + [False] * len(word)))


# raw tokens as the tokenizer emits them: ASCII letters and digits, mixed
# case, including stopwords and irregular inflections in any casing
_ALNUM = st.text("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
                 min_size=1, max_size=12)
_KNOWN = st.builds(
    _recase,
    st.sampled_from(sorted(PUBMED_STOPWORDS | set(IRREGULAR_LEMMAS))),
    st.lists(st.booleans(), max_size=12),
)
TOKENS = st.lists(st.one_of(_ALNUM, _KNOWN), min_size=1, max_size=40)


@settings(max_examples=150, deadline=None)
@given(TOKENS)
@example(["of", "OF", "The", "mice", "MICE", "A1", "a1", "cells", "IL2"])
def test_normalizer_equals_unmemoized(tokens):
    norms = [(cfg, cfg.normalizer()) for cfg in CONFIGS]
    # interleave every config's normalizer over the same tokens, twice: a
    # memo shared between configs, or one that drifts, shows up here
    for _ in range(2):
        for tok in tokens:
            for cfg, norm in norms:
                want = (None if cfg.is_stopword(tok)
                        else cfg.normalize_token(tok))
                assert norm(tok) == want, (cfg, tok)


def test_normalizers_share_no_state():
    stop = ONTOLOGY_CONFIGS["GO_MF"]  # PUBMED stopwords
    plain = ONTOLOGY_CONFIGS["CL"]
    a, b = stop.normalizer(), plain.normalizer()
    assert a("of") is None
    assert b("of") == "of"
    sens, insens = ONTOLOGY_CONFIGS["PR"], ONTOLOGY_CONFIGS["CL"]
    c, d = insens.normalizer(), sens.normalizer()
    assert c("Neurons") == "neuron"
    assert d("Neurons") == "Neurons"
    # a fresh normalizer of the same config starts empty, and agrees
    assert stop.normalizer()("of") is None


# ---------------------------------------------------------------------------
# kernel equivalence
# ---------------------------------------------------------------------------

def _tries(spec: list[tuple[str, str]]):
    """Tries for (ontology, fixture path) pairs, each ontology with its own
    per-ontology config."""
    rows = []
    for ont, path in spec:
        rows += dictionary_rows(parse_ontology(path), ont,
                                ONTOLOGY_CONFIGS[ont])
    return build_tries(rows)


def _old_loop(text, tries):
    """The per-trie loop the kernel replaced: unmemoized ``scan_text`` per
    trie over one shared pretokenization, then turn-local dedup."""
    if text is None:
        return []
    pretok = pretokenize(text)
    seen, out = set(), []
    for trie in tries.values():
        for m in trie.scan_text(text, pretok):
            if (m[1], m[2], m[3]) not in seen:
                seen.add((m[1], m[2], m[3]))
                out.append(m)
    return out


# each pair differs where a memo shared across configs would bite: PUBMED
# stopwords ("nerve of cell" is "nerve cell" to GO_MF only) and case
# sensitivity ("Neurons" is "neuron" to CL only); both trie orders
TRIE_SPECS = [
    [("GO_MF", MINI_OBO), ("CL", MINI_OBO)],
    [("CL", MINI_OBO), ("GO_MF", MINI_OBO)],
    [("PR", MINI_OWL), ("CL", MINI_OBO)],
    [("CL", MINI_OBO), ("PR", MINI_OWL)],
]
TRIES = [_tries(spec) for spec in TRIE_SPECS]

_WORDS = ["nerve", "cell", "cells", "Cell", "CELL", "of", "the", "The",
          "neuron", "Neurons", "NEURON", "neuronal", "amacrine",
          "interneurone", "fibroblasts", "native", "shared", "gadget",
          "widget", "type", "2", "alpha", "beta", "gamma", "delta", "x7"]
_SEPS = [" ", " ", " ", ", ", ". ", "\n"]
TURN = st.lists(
    st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)),
    max_size=25,
).map(lambda ws: "".join(w + s for w, s in ws).strip())


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(TURN, st.none()), min_size=1, max_size=12))
@example(["nerve of cell", "Neurons of the NEURON", "the nerve cell",
          "nerve the cell. Neurons"])
@example(["Neurons", "nerve of cell", "neuron", "of"])
def test_kernel_equals_old_loop(turns):
    for tries in TRIES:
        scanner = TurnScanner(tries)  # one per batch: memo spans the turns
        for text in turns:
            assert scanner.scan(text) == _old_loop(text, tries), text


def test_kernel_examples_where_configs_differ():
    gomf_cl, _, pr_cl, _ = TRIES
    got = {(m[0], m[1], m[4])
           for m in TurnScanner(gomf_cl).scan("nerve of cell")}
    # GO_MF skips the stopword; CL still sees "cell" alone
    assert ("GO_MF", "CL:0000540", "nerve of cell") in got
    assert not any(o == "CL" and c == "CL:0000540" for o, c, _ in got)
    got = {(m[0], m[1]) for m in TurnScanner(pr_cl).scan("Neurons")}
    assert got == {("CL", "CL:0000540")}


def test_kernel_null_and_nan_text():
    scanner = TurnScanner(TRIES[0])
    assert scanner.scan(None) == []
    assert scanner.scan(float("nan")) == []


# ---------------------------------------------------------------------------
# one null rule in both plans
# ---------------------------------------------------------------------------

def test_null_and_nan_text_yield_no_mentions_in_both_plans(spark):
    """None text (a null string) and float-NaN text (what pandas hands the
    scan for a missing value in a float-typed text column, e.g. an
    all-missing pandas column that Spark typed as double) both yield no
    mentions and no quarantined error, in the staged and the fused plan."""
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    frames = {
        "null string": spark.createDataFrame(
            [("c1", 0, "user", "a nerve cell", None, None),
             ("c1", 1, "user", None, None, None),
             ("c2", 0, "user", None, None, None)],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp"),
        "float NaN": spark.createDataFrame(
            [("c1", 1, "user", float("nan"), None, None),
             ("c2", 0, "user", None, None, None)],
            "conv_id string, turn_idx int, role string, text double,"
            " tool string, ts timestamp"),
    }
    for name, tdf in frames.items():
        mentions = {(r.conv_id, r.turn_idx, r.concept_id, r.error)
                    for r in detect_mentions(tdf, ddf).collect()}
        want = ({("c1", 0, "CL:0000540", None)} if name == "null string"
                else set())
        assert mentions == want, name
        for qe in (False, True):
            rows = fused_conv_triples(tdf, ddf, quarantine_errors=qe)
            denotes = {(r.conv_id, r.turn_idx) for r in rows.collect()
                       if r.pred == PRED_DENOTES or r.pred == "__ERROR__"}
            assert denotes == ({("c1", 0)} if name == "null string"
                               else set()), (name, qe)
