"""Driver contract (``__spark_entry__``): the KG-chain queries and
``entry()`` run ``run_pipeline`` on synthesized documents, so they need
no reference corpus; their rows are pinned by the committed golden
VALUES oracles."""

import json
from pathlib import Path

import pytest

import __spark_entry__ as e

pytestmark = pytest.mark.spark

GOLDEN = Path(__file__).resolve().parents[1] / "fixtures" / "golden_oracle_rows.json"


@pytest.mark.parametrize("name", ["q_ner_mentions", "q_kg_triples"])
def test_kg_query_matches_golden_rows(spark, name):
    want = json.loads(GOLDEN.read_text())[name]
    # the KG queries ignore the scale-factor dir: their input is synthesized
    df = e.queries()[name](spark, "")
    cols = want["columns"]
    assert sorted(df.columns) == sorted(cols)
    got = sorted(tuple(r[c] for c in cols) for r in df.collect())
    assert got == sorted(tuple(r) for r in want["rows"])


def test_entry_emits_flagship_triples(spark):
    assert e.entry(spark).count() == 2280
