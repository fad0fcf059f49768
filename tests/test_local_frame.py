"""``schemas.local_frame``: driver-side rows become a JVM-held Arrow frame
that no Python worker reads, with exact types and no silent fallback."""

from __future__ import annotations

import datetime as dt

import pytest

from kgpipe import schemas
from kgpipe.canon import canonicalize, canonicalize_with_map
from kgpipe.detect import build_dictionary_df
from kgpipe.lineage import read_lineage

from conftest import MINI_OBO

DICT_ROWS = [
    {"ontology": "CL", "concept_id": "CL:1", "canonical": "neuron",
     "variant": "nerve cell", "is_official": False,
     "variant_norm": "nerve cell"},
    {"ontology": "CL", "concept_id": "CL:2", "canonical": None,
     "variant": None, "is_official": None, "variant_norm": None},
]
LINEAGE_ROWS = [
    {"run_key": "k", "partition_id": 3, "status": "COMPLETE", "n_turns": 7,
     "n_mentions": None, "n_triples": 2 ** 40,
     "run_date": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc),
     "error": None,
     "component_at_fault": None},
    {"run_key": "k", "partition_id": 4, "status": "ERROR", "n_turns": 0,
     "n_mentions": 0, "n_triples": 0, "run_date": None, "error": "boom",
     "component_at_fault": "detect"},
]


def _python_read_nodes(df) -> list[str]:
    """Optimized-plan nodes that are backed by a (pickled Python) RDD."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [n for n in ("LogicalRDD", "ExistingRDD") if n in plan]


@pytest.mark.parametrize("schema,rows", [
    (schemas.DICTIONARY, DICT_ROWS),
    (schemas.LINEAGE, LINEAGE_ROWS),
])
def test_local_frame_round_trips_exactly(spark, schema, rows):
    df = schemas.local_frame(spark, rows, schema)
    assert df.schema == schema  # names, types and nullability
    # collect() hands timestamps back as naive local time
    expected = [{k: v.astimezone().replace(tzinfo=None)
                 if isinstance(v, dt.datetime) else v
                 for k, v in r.items()} for r in rows]
    assert [r.asDict() for r in df.collect()] == expected
    empty = schemas.local_frame(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0


def test_local_frame_rejects_null_in_non_nullable_column(spark):
    row = dict(DICT_ROWS[0], concept_id=None)
    with pytest.raises(ValueError, match="concept_id"):
        schemas.local_frame(spark, [row], schemas.DICTIONARY)


def test_driver_built_frames_need_no_python_worker(spark, tmp_path):
    dictionary = build_dictionary_df(spark, {"SYN": MINI_OBO})
    assert _python_read_nodes(dictionary) == []
    assert _python_read_nodes(read_lineage(spark, str(tmp_path / "none"))) == []
    mentions = schemas.local_frame(spark, [
        {"conv_id": "c1", "turn_idx": 0, "ontology": "SYN",
         "concept_id": "SYN:0000002", "begin": 0, "end": 4,
         "covered_text": "beta", "error": None},
    ], schemas.MENTIONS)
    # the component map rides the broadcast side of canonicalization,
    # both on the staged route and from a precomputed map (empty or not)
    for out in (canonicalize(mentions, dictionary),
                canonicalize_with_map(mentions, {}),
                canonicalize_with_map(mentions, {"SYN:0000002": "SYN:0000001"})):
        assert _python_read_nodes(out) == []
    assert canonicalize(mentions, dictionary).first().canonical_id == "SYN:0000001"
