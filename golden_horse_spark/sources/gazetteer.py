"""Gazetteer / alias-dictionary sources (SURVEY.md §2.1 S4, FIXTURES.md §4).

The reference loads ``resources/names.txt`` (jieba-dict format
``word freq pos``, icwb.py:238-247) into a driver-side set for its
shortest-match InName features. At web scale the same asset becomes the
entity-linking alias dictionary: ``(surface_form, entity_id, prior)``,
broadcast-joined against mention surfaces.

``load_alias_table`` reads a names file given by its caller (there is no
default path) and synthesizes deterministic entity ids (``e<row>``) and
priors ∝ freq; ``gazetteer_features`` reproduces the reference's
shortest-match-with-early-break semantics (icwb.py:208-236) for the CWS
feature path.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Set, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_names(path: str | Path):
    """names.txt rows → [(surface, freq)]. Driver-side, 230k rows ≈ 3 MB."""
    rows: List[Tuple[str, int]] = []
    with open(path, encoding="utf-8", errors="surrogatepass") as f:
        for line in f:
            cols = line.split()
            if not cols:
                continue
            freq = int(cols[1]) if len(cols) > 1 and cols[1].isdigit() else 1
            rows.append((cols[0], freq))
    return rows


def load_alias_table(spark: SparkSession, path: str | Path) -> DataFrame:
    """names file → (surface_form, entity_id, prior), the alias table
    ``run_pipeline`` links mentions against."""
    data = [(s, f"e{i}", float(fr)) for i, (s, fr) in enumerate(read_names(path))]
    df = spark.createDataFrame(
        data, "surface_form string, entity_id string, prior double"
    )
    total = F.sum("prior").over(Window.partitionBy("surface_form"))
    return df.select(
        "surface_form", "entity_id", (F.col("prior") / total).alias("prior")
    )


def gazetteer_match_spans(
    chars: List[str], names: Set[str], max_len: int
) -> List[Tuple[int, int]]:
    """Shortest-match-with-early-break scan (icwb.py:216-231): at each
    position try lengths 1..max_len and BREAK on the first hit (the match
    length quirk is semantics-bearing, SURVEY.md §7.0.9)."""
    out = []
    n = len(chars)
    for i in range(n):
        for j in range(1, min(max_len, n - i) + 1):
            cand = "".join(chars[i : i + j])
            if cand in names:
                out.append((i, i + j))
                break
    return out
