"""Output checks for every benchmark op, written against the committed
tables only (read back with pyarrow, recomputed with pandas/NumPy), so they
share no code with the program under test.

Run ``python3 perfbench/checks.py`` for the self-test: it builds a small
correct op output, shows that it passes, then shows that a tampered triple,
a split component, a moved mention and a wrong k-core are each rejected.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

MENTION_COLS = ["doc_id", "span_idx", "sent_idx", "start", "end", "surface", "etype", "ntype"]


class CheckFailed(AssertionError):
    """An op's committed output is wrong."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def read_table(path: Path) -> pd.DataFrame:
    """A committed stage table; hive ``part=`` directories become a column."""
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table().to_pandas()


def mentions_digest(mentions: pd.DataFrame) -> str:
    """Order-independent digest of the mentions table."""
    m = mentions[MENTION_COLS].sort_values(MENTION_COLS[:5]).astype(str)
    h = hashlib.sha256()
    for row in m.itertuples(index=False, name=None):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:32]


def canonical_from_links(links: pd.DataFrame) -> dict:
    """entity_id -> canonical_id by union-find: entities linked from one
    mention share a component; its label is the minimum entity id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent.get(x, x)
        return root

    for _, ents in links.groupby("mention_id")["entity_id"]:
        ents = list(ents)
        for e in ents:
            parent.setdefault(e, e)
        for e in ents[1:]:
            a, b = find(ents[0]), find(e)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {e: find(e) for e in parent}


def expected_triples(mentions: pd.DataFrame, links: pd.DataFrame,
                     entities: pd.DataFrame) -> pd.DataFrame:
    """mentioned_in, has_type and same-sentence co_occurs_with triples."""
    linked = (mentions.merge(links[["mention_id", "entity_id"]], on="mention_id")
              .merge(entities, on="entity_id")
              .rename(columns={"canonical_id": "subj"}))
    men = linked.assign(pred="mentioned_in", obj=linked["doc_id"])
    typ = linked.assign(pred="has_type", obj=linked["etype"])
    key = ["doc_id", "span_idx", "sent_idx"]
    pairs = linked[key + ["subj"]].merge(linked[key + ["subj"]], on=key, suffixes=("", "_r"))
    pairs = pairs[pairs["subj"] < pairs["subj_r"]]
    co = pairs.assign(pred="co_occurs_with", obj=pairs["subj_r"])
    cols = ["subj", "pred", "obj", "doc_id"]
    return pd.concat([men[cols], typ[cols], co[cols]]).drop_duplicates()


def _as_set(df: pd.DataFrame, cols: list) -> set:
    return set(df[cols].astype(str).itertuples(index=False, name=None))


def check_canonical(links: pd.DataFrame, entities: pd.DataFrame) -> None:
    """Canonical ids must equal union-find over the op's own links."""
    got = dict(zip(entities["entity_id"], entities["canonical_id"]))
    require(len(got) == len(entities), "duplicate entity_id in entities")
    require(got == canonical_from_links(links), "entities disagree with union-find over links")


def check_pipeline(tables: dict, texts: dict, n_parts: int) -> dict:
    """Check one ``run_pipeline`` op. ``tables`` holds the committed
    sentences, mentions, links, entities and triples as DataFrames;
    ``texts`` maps (doc_id, span_idx) to the generated span text."""
    sents, men = tables["sentences"], tables["mentions"]
    links, ents, tri = tables["links"], tables["entities"], tables["triples"]

    # sentences tile the generated spans; mentions are substrings of them
    require(set(zip(sents["doc_id"], sents["span_idx"])) == set(texts),
            "sentences do not cover exactly the generated text spans")
    rebuilt = (sents.sort_values(["doc_id", "span_idx", "sent_idx"])
               .groupby(["doc_id", "span_idx"])["text"].agg("".join))
    for key, text in rebuilt.items():
        require(text == texts[key], f"sentences of {key} do not rebuild the span")
    sent_text = {(d, s, n): t for d, s, n, t in sents[["doc_id", "span_idx", "sent_idx", "text"]]
                 .itertuples(index=False, name=None)}
    for d, s, n, a, b, surf in men[["doc_id", "span_idx", "sent_idx", "start", "end", "surface"]] \
            .itertuples(index=False, name=None):
        require(sent_text.get((d, s, n), "")[a:b] == surf, f"mention {surf!r} is not at {d}/{s}/{n}[{a}:{b}]")
    require(men["mention_id"].is_unique, "duplicate mention_id")

    # links: at most one per mention, only to known mentions
    require(links["mention_id"].is_unique, "more than one link per mention")
    require(links["mention_id"].isin(men["mention_id"]).all(), "link to an unknown mention")

    check_canonical(links, ents)

    # triples recomputed from the op's mentions/links/entities
    cols = ["subj", "pred", "obj", "doc_id"]
    exp = expected_triples(men, links, ents)
    require(not tri.duplicated(cols).any(), "duplicate triples")
    require(_as_set(tri, cols) == _as_set(exp, cols), "triples differ from the recomputed set")
    parts = tri.groupby("subj")["part"].nunique()
    require((parts == 1).all(), "a subject spans several parts")
    require(tri["part"].astype(int).between(0, n_parts - 1).all(), "part out of range")
    return {
        "mentions": len(men), "links": len(links), "entities": len(ents), "triples": len(tri),
        # edges canonical_entities projects: one per extra entity of a mention
        "entity_graph_edges": len(links) - links["mention_id"].nunique(),
        "mentions_digest": mentions_digest(men),
    }


def check_canon(entities: pd.DataFrame, core: pd.DataFrame, expect: dict) -> dict:
    """Check ``canonical_entities`` + ``k_core`` against the closed form of
    the generated link graph (see ``gen.link_graph``)."""
    ent_num = entities["entity_id"].str[1:].astype(np.int64).to_numpy()
    can_num = entities["canonical_id"].str[1:].astype(np.int64).to_numpy()
    canonical = expect["canonical"]
    require(len(ent_num) == len(canonical) and len(np.unique(ent_num)) == len(ent_num),
            "entities is not one row per generated entity")
    sizes = np.bincount(can_num, minlength=len(canonical))
    require(int((sizes > 0).sum()) == expect["components"], "component count differs from the closed form")
    require(int(sizes.max()) == expect["giant_size"], "giant component size differs from the closed form")
    require(np.array_equal(canonical[ent_num], can_num), "a canonical id differs from its component minimum")
    got_core = np.sort(core["node"].str[1:].astype(np.int64).to_numpy())
    require(np.array_equal(got_core, expect["core2"]), "k_core differs from the closed form")
    return {"entities": len(ent_num), "components": expect["components"], "core_nodes": len(got_core)}


def k_core_nodes(edges: pd.DataFrame, k: int) -> set:
    """Nodes of the k-core of the undirected graph ``edges(src, dst)``,
    by peeling nodes of degree < k until none is left."""
    adj: dict = {}
    for a, b in edges[["src", "dst"]].itertuples(index=False, name=None):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    todo = [n for n, nb in adj.items() if len(nb) < k]
    while todo:
        n = todo.pop()
        if n not in adj:
            continue
        for m in adj.pop(n):
            nb = adj.get(m)
            if nb is not None:
                nb.discard(n)
                if len(nb) < k:
                    todo.append(m)
    return set(adj)


def check_k_core(edges: pd.DataFrame, core: pd.DataFrame, k: int) -> int:
    """``k_core`` output must be exactly the peeled node set."""
    got = list(core["node"])
    require(len(got) == len(set(got)), "duplicate node in k_core")
    require(set(got) == k_core_nodes(edges, k), "k_core differs from a Python peel")
    return len(got)


def read_pipeline_tables(out_dir: Path) -> dict:
    return {name: read_table(out_dir / name)
            for name in ("sentences", "mentions", "links", "entities", "triples")}


def self_test() -> list:
    """Returns the list of rejected tamperings; raises if a good output is
    rejected or a bad one accepted."""
    texts = {("d1", 0): "张伟和李娜在上海。", ("d1", 2): "王芳去了北京，刘洋也去了。"}
    sents = pd.DataFrame({
        "doc_id": ["d1", "d1", "d1"], "span_idx": [0, 2, 2], "sent_idx": [0, 0, 1],
        "text": ["张伟和李娜在上海。", "王芳去了北京，", "刘洋也去了。"], "offset": [0, 10, 17],
    })
    rows = [("d1", 0, 0, 0, 2, "张伟", "PER", "NAM"), ("d1", 0, 0, 3, 5, "李娜", "PER", "NAM"),
            ("d1", 0, 0, 6, 8, "上海", "GPE", "NAM"), ("d1", 2, 0, 4, 6, "北京", "GPE", "NAM"),
            ("d1", 2, 1, 0, 2, "刘洋", "PER", "NAM")]
    men = pd.DataFrame(rows, columns=MENTION_COLS)
    men["mention_id"] = [f"m{i}" for i in range(len(men))]
    links = pd.DataFrame({"mention_id": ["m0", "m1", "m2", "m3"], "entity_id": ["e2", "e1", "e3", "e3"],
                          "score": 1.0})
    ents = pd.DataFrame({"entity_id": ["e1", "e2", "e3"], "canonical_id": ["e1", "e2", "e3"]})
    tri = expected_triples(men, links, ents).assign(part=0)
    good = {"sentences": sents, "mentions": men, "links": links, "entities": ents, "triples": tri}
    check_pipeline(good, texts, 4)

    # one mention linked to e1 and e2 joins them: e2's canonical id is e1
    multi = pd.DataFrame({"mention_id": ["m0", "m0", "m2"], "entity_id": ["e1", "e2", "e3"]})
    merged = pd.DataFrame({"entity_id": ["e1", "e2", "e3"], "canonical_id": ["e1", "e1", "e3"]})
    check_canonical(multi, merged)

    bad_tri = tri.copy()
    bad_tri.iloc[0, bad_tri.columns.get_loc("obj")] = "d9"
    moved = men.copy()
    moved.loc[0, "start"] = 1
    tamperings = {
        "tampered_triple": lambda: check_pipeline({**good, "triples": bad_tri}, texts, 4),
        "split_component": lambda: check_canonical(multi, ents),
        "moved_mention": lambda: check_pipeline({**good, "mentions": moved}, texts, 4),
    }
    rejected = []
    for name, run in tamperings.items():
        try:
            run()
        except CheckFailed:
            rejected.append(name)
        else:
            raise AssertionError(f"check accepted {name}")

    # closed-form graph check: a chain a-b plus ring c-d-e-c
    expect = {"canonical": np.array([0, 0, 2, 2, 2]), "components": 2, "giant_size": 3,
              "core2": np.array([2, 3, 4])}
    e = pd.DataFrame({"entity_id": [f"E{i}" for i in range(5)], "canonical_id": ["E0", "E0", "E2", "E2", "E2"]})
    core = pd.DataFrame({"node": ["E2", "E3", "E4"]})
    check_canon(e, core, expect)
    for name, (e2, c2) in {
        "split_graph_component": (e.assign(canonical_id=["E0", "E1", "E2", "E2", "E2"]), core),
        "wrong_k_core": (e, core.iloc[:2]),
    }.items():
        try:
            check_canon(e2, c2, expect)
        except CheckFailed:
            rejected.append(name)
        else:
            raise AssertionError(f"check accepted {name}")
    # k-core of a triangle with a pendant node: the triangle
    tri_edges = pd.DataFrame({"src": ["a", "b", "c", "c"], "dst": ["b", "c", "a", "d"]})
    check_k_core(tri_edges, pd.DataFrame({"node": ["a", "b", "c"]}), 2)
    try:
        check_k_core(tri_edges, pd.DataFrame({"node": ["a", "b", "c", "d"]}), 2)
    except CheckFailed:
        rejected.append("wrong_kg_k_core")
    else:
        raise AssertionError("check accepted wrong_kg_k_core")
    return rejected


if __name__ == "__main__":
    print("self-test: the checks reject", ", ".join(self_test()))
