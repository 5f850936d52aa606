"""Seeded input generator for the benchmark.

Everything here is plain Python/NumPy written to parquet with pyarrow, so a
change to the program under test can never change its inputs: no Spark, no
``sources.documents.synthesize_documents``, no NER.

Two input families:

* KG corpora (``kg_corpus``): interleaved documents ``(doc_id, spans)`` whose
  text spans are single sentences built from embedded person, place and
  organisation lists and sentence templates, plus the alias table
  ``(surface_form, entity_id, prior)`` the linking stage looks names up in.
* Link graphs (``link_graph``): a ``links(mention_id, entity_id)`` table
  made of chains of overlapping mention blocks, rings and one hot hub, with
  the closed-form answers of connected components and the 2-core.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SURNAMES = list("王李张刘陈杨黄赵吴周徐孙马朱胡郭何高林罗郑梁谢宋唐许韩冯邓曹彭曾肖田董袁潘于蒋蔡余杜叶程苏魏吕丁任沈姚卢姜崔钟谭陆汪范金石廖贾夏韦付方白邹孟熊秦邱江尹薛闫段雷侯龙史陶黎贺顾毛郝龚邵万钱严覃武戴莫孔向汤")
GIVEN = list("伟芳娜敏静丽强磊军洋勇艳杰娟涛明超秀霞平刚桂英华玉萍红鹏飞燕琳建国辉亮斌宇浩凯欣怡婷雪晨博文龙峰鑫倩颖阳瑶佳")
PLACES = [
    "北京", "上海", "广州", "深圳", "成都", "重庆", "杭州", "南京", "武汉", "西安",
    "天津", "苏州", "长沙", "郑州", "青岛", "沈阳", "大连", "厦门", "福州", "济南",
    "合肥", "昆明", "南昌", "贵阳", "南宁", "太原", "兰州", "海口", "宁波", "无锡",
    "石家庄", "哈尔滨", "长春", "呼和浩特", "乌鲁木齐", "拉萨", "西宁", "银川",
    "台北", "香港", "澳门", "洛阳", "桂林", "珠海", "汕头", "温州", "徐州", "扬州",
]
ORGS = [
    "华为公司", "腾讯公司", "阿里巴巴", "百度公司", "小米公司", "京东集团",
    "清华大学", "北京大学", "复旦大学", "浙江大学", "南京大学", "武汉大学",
    "中国银行", "工商银行", "建设银行", "招商银行", "国家博物馆", "中央电视台",
    "人民日报", "新华社", "中国移动", "中国联通", "中国电信", "国家电网",
]
TIMES = ["昨天", "今天", "上周", "去年", "前天", "上个月", "周末", "早上", "晚上", "下午"]
VERBS = ["见了", "拜访了", "采访了", "联系了", "感谢了", "邀请了", "表扬了", "找到了"]
# {p}/{q}: person, {l}/{m}: place, {o}: org, {t}: time, {v}: verb, {n}: number
TEMPLATES = [
    "{p}和{q}{t}在{l}参加了{o}的年会。",
    "{p}说{t}要去{l}看望{q}。",
    "{p}在{l}的{o}工作了{n}年，{q}也去了。",
    "{p}和{q}一起从{l}去了{m}。",
    "{t}{p}在{l}{v}{q}和{o}的代表。",
    "{p}代表{o}前往{l}与{q}签约{n}次。",
    "{p}{t}从{l}飞到{m}，{q}在机场{v}他。",
    "{q}告诉{p}，{o}在{l}开了{n}家分店。",
    "{p}和{q}在{l}见面，{t}又去了{m}。",
    "{t}{p}带着{q}在{l}{v}{o}的老师。",
]
# name-free clauses: more text for NER to read, no more mentions
CLAUSES = [
    "大家都觉得这次活动办得非常成功", "现场的气氛一直十分热烈", "会后还安排了简单的午餐",
    "天气虽然不好但是来的人很多", "双方交流了近期的工作情况", "很多细节还需要进一步商量",
    "整个过程持续了大约两个小时", "参加的人都表示收获很大", "这件事在网上引起了不少讨论",
    "路上的交通比平时拥堵一些", "大家约好下次再一起出来", "记者在现场拍了很多照片",
    "主持人简单介绍了活动的背景", "不少年轻人专门赶来参加", "晚上又下起了小雨",
    "会议的议程比原计划紧凑",
]
MEDIA_KINDS = ["image", "audio", "video"]
MEDIA_FRACTION = 0.15  # share of spans that are media
SENTS_PER_DOC = (2, 6)  # inclusive range of text spans per doc
PEOPLE_SEED = 20261017  # the person-name inventory is fixed across seeds
# default edge count up to which connected components runs as a driver
# union-find instead of distributed rounds
UNION_FIND_CEILING = 500_000


def person(rng: np.random.Generator, given_chars: int) -> str:
    g = "".join(GIVEN[int(i)] for i in rng.integers(len(GIVEN), size=given_chars))
    return SURNAMES[int(rng.integers(len(SURNAMES)))] + g


def people(n: int, given_chars: int) -> list:
    """``n`` distinct person names, the same for every seed: the seed moves
    names between sentences but does not change which names NER has to
    find, so output sizes barely change from seed to seed."""
    rng = np.random.default_rng(PEOPLE_SEED)
    names: dict = {}
    while len(names) < n:
        names.setdefault(person(rng, given_chars), None)
    return list(names)


def sentence(rng: np.random.Generator, names: tuple, k: int, clauses: int = 0) -> tuple:
    """The ``k``-th templated sentence with persons ``names``, with
    ``clauses`` name-free clauses appended, and the names planted in it.
    Templates are used in turn, so every seed gets the same template mix."""
    t = TEMPLATES[k % len(TEMPLATES)]
    l, m = rng.choice(len(PLACES), size=2, replace=False)
    slots = {
        "p": names[0], "q": names[1],
        "l": PLACES[int(l)], "m": PLACES[int(m)],
        "o": ORGS[int(rng.integers(len(ORGS)))],
    }
    text = t.format(
        t=TIMES[int(rng.integers(len(TIMES)))],
        v=VERBS[int(rng.integers(len(VERBS)))],
        n=int(rng.integers(2, 100)),
        **slots,
    )
    extra = [CLAUSES[int(c)] for c in rng.integers(len(CLAUSES), size=clauses)]
    text = "，".join([text[:-1]] + extra) + text[-1]
    return text, [v for k, v in slots.items() if "{%s}" % k in t]


@dataclass
class KgSpec:
    """Shape of one KG corpus; the seed only picks the concrete strings, so
    sentence, template and hot-key counts are the same for every seed."""

    n_docs: int
    distinct_sentences: int | None  # None: every sentence freshly drawn
    given_chars: int  # given-name length of generated persons
    n_people: int  # distinct persons; sentences take them in seeded order
    clauses: int = 0  # name-free clauses appended to every sentence
    hot_surface: str | None = None  # prefixed to the first span of ...
    hot_every: int = 0  # ... every n-th doc
    fuzzy_aliases: bool = False  # aliases perturbed so exact lookup misses
    alias_noise: int = 0  # extra aliases that match nothing


def _alias_rows(rng: np.random.Generator, spec: KgSpec, surfaces: list) -> list:
    """One alias per planted surface (exact, or with one appended char so
    the char-bigram Jaccard distance to the surface is below 0.5 when the
    surface has at least 3 chars), plus ``alias_noise`` unrelated names."""
    rows = []
    for s in surfaces:
        form = s + GIVEN[int(rng.integers(len(GIVEN)))] if spec.fuzzy_aliases and len(s) >= 3 else s
        rows.append(form)
    noise = set()
    while len(noise) < spec.alias_noise:
        noise.add(person(rng, 3) + GIVEN[int(rng.integers(len(GIVEN)))])
    rows.extend(sorted(noise - set(rows)))
    return rows


def kg_corpus(spec: KgSpec, seed: int, out_dir: Path) -> dict:
    """Write ``docs.parquet`` and ``aliases.parquet`` under ``out_dir`` and
    return the input properties plus the planted text per text span."""
    rng = np.random.default_rng(seed)
    inventory = people(spec.n_people, spec.given_chars)
    order_p = rng.permutation(len(inventory))

    def persons_of(k: int) -> tuple:  # the two persons of the k-th sentence
        return (inventory[order_p[2 * k % len(inventory)]],
                inventory[order_p[(2 * k + 1) % len(inventory)]])

    pool = None
    if spec.distinct_sentences:
        pool = [sentence(rng, persons_of(k), k, spec.clauses) for k in range(spec.distinct_sentences)]
        order = rng.permutation(len(pool))  # pool sentences are used in turn
    doc_ids, spans_col, texts, planted = [], [], {}, set()
    n_sent = n_hot = 0
    lo, hi = SENTS_PER_DOC
    for d in range(spec.n_docs):
        doc_id = f"d{seed:04d}-{d:07d}"
        n_text = lo + d % (hi - lo + 1)
        spans, offset, i = [], 0, 0
        hot = spec.hot_every > 0 and d % spec.hot_every == 0
        n_hot += hot
        while n_text:
            if rng.random() < MEDIA_FRACTION:
                kind = MEDIA_KINDS[int(rng.integers(3))]
                spans.append({"kind": kind, "text": "", "media_ref": f"m://{doc_id}/{i}", "offset": offset})
                offset += 1
            else:
                text, names = pool[order[n_sent % len(pool)]] if pool else sentence(rng, persons_of(n_sent), n_sent, spec.clauses)
                planted.update(names)
                if hot:
                    text, hot = spec.hot_surface + "说" + text, False
                spans.append({"kind": "text", "text": text, "media_ref": "", "offset": offset})
                texts[(doc_id, i)] = text
                offset += len(text)
                n_text -= 1
                n_sent += 1
            i += 1
        doc_ids.append(doc_id)
        spans_col.append(spans)
    span_type = pa.struct([("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string()), ("offset", pa.int32())])
    docs = pa.table({"doc_id": pa.array(doc_ids, pa.string()),
                     "spans": pa.array(spans_col, pa.list_(span_type))})
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, out_dir / "docs.parquet", row_group_size=max(1, spec.n_docs // 8))

    if spec.hot_surface:
        planted.add(spec.hot_surface)
    forms = _alias_rows(rng, spec, sorted(planted))
    prior = rng.uniform(0.1, 1.0, size=len(forms))
    aliases = pa.table({
        "surface_form": pa.array(forms, pa.string()),
        "entity_id": pa.array([f"e{seed:04d}-{i:06d}" for i in range(len(forms))], pa.string()),
        "prior": pa.array(prior, pa.float64()),
    })
    pq.write_table(aliases, out_dir / "aliases.parquet")

    all_texts = list(texts.values())
    exact = sum(1 for f in forms if f in planted)
    props = {
        "docs": spec.n_docs,
        "sentences": n_sent,
        "distinct_sentence_share": round(len(set(all_texts)) / max(1, n_sent), 4),
        "aliases": len(forms),
        "alias_exact_hit_share": round(exact / max(1, len(forms)), 4),
        "hot_key": spec.hot_surface,
        "hot_key_share": round(n_hot / spec.n_docs, 4),
        "input_mb": round(dir_mb(out_dir), 3),
        "driver_union_find_ceiling": UNION_FIND_CEILING,
    }
    return {"props": props, "texts": texts, "alias_forms": set(forms)}


@dataclass
class GraphSpec:
    """Shape of one link graph; the seed only permutes entity ids."""

    n_chains: int  # chains of ``blocks`` mention blocks
    blocks: int  # mention blocks per chain
    block_size: int  # entities linked from one mention
    n_rings: int  # cycles of ``ring_size`` entities (2-core survivors)
    ring_size: int
    hub_chains: int  # chains joined to the hot hub entity


def link_graph(spec: GraphSpec, seed: int, out_dir: Path) -> dict:
    """Write ``links.parquet`` (mention_id, entity_id) and ``edges.parquet``
    (src, dst): the entity graph ``canonical_entities`` projects, one edge
    from the smallest entity of each mention to each other entity of it.

    Entity ids are a seeded permutation, so where the minimum of a component
    sits is random, but every answer has a closed form:

    * components: chains + rings - hub_chains + 1 (hub joins its chains);
    * the giant component: 1 + hub_chains * entities_per_chain;
    * canonical id: the minimum id of the component;
    * 2-core of the edge graph: exactly the ring entities (chains, the hub
      and its spokes form trees, which peel away).
    """
    rng = np.random.default_rng(seed)
    k, b = spec.block_size, spec.blocks
    per_chain = b * (k - 1) + 1
    n_chain_ents = spec.n_chains * per_chain
    n_ring_ents = spec.n_rings * spec.ring_size
    n_ent = n_chain_ents + n_ring_ents + 1
    ids = rng.permutation(n_ent)  # node index -> entity number
    width = len(str(n_ent))

    # chain mentions: block j of chain c links entities j*(k-1) .. j*(k-1)+k-1
    c = np.repeat(np.arange(spec.n_chains), b)
    j = np.tile(np.arange(b), spec.n_chains)
    base = c * per_chain + j * (k - 1)
    chain_m = base[:, None] + np.arange(k)[None, :]  # (mentions, k) node idx
    # ring mentions: entity r_i with r_{i+1 mod size}
    r0 = n_chain_ents + np.repeat(np.arange(spec.n_rings), spec.ring_size) * spec.ring_size
    ri = np.tile(np.arange(spec.ring_size), spec.n_rings)
    ring_m = np.stack([r0 + ri, r0 + (ri + 1) % spec.ring_size], axis=1)
    # hub mentions: hub with the first entity of each of the first hub_chains chains
    hub = n_ent - 1
    hub_m = np.stack([np.full(spec.hub_chains, hub),
                      np.arange(spec.hub_chains) * per_chain], axis=1)

    groups = [chain_m, ring_m, hub_m]
    m_ids, e_ids, srcs, dsts = [], [], [], []
    m_off = 0
    for g in groups:
        ent = ids[g]  # entity numbers, (mentions, width)
        n_m, w = ent.shape
        m_ids.append(np.repeat(np.arange(m_off, m_off + n_m), w))
        e_ids.append(ent.ravel())
        root = ent.min(axis=1)
        others = np.sort(ent, axis=1)[:, 1:]
        srcs.append(np.repeat(root, w - 1))
        dsts.append(others.ravel())
        m_off += n_m
    fmt = np.vectorize(lambda x: f"E{x:0{width}d}", otypes=[object])
    m_all = np.concatenate(m_ids)
    links = pa.table({
        "mention_id": pa.array([f"m{x:08d}" for x in m_all], pa.string()),
        "entity_id": pa.array(fmt(np.concatenate(e_ids)), pa.string()),
    })
    src, dst = np.concatenate(srcs), np.concatenate(dsts)
    edges = pa.table({"src": pa.array(fmt(src), pa.string()),
                      "dst": pa.array(fmt(dst), pa.string())})
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(links, out_dir / "links.parquet", row_group_size=max(1, len(m_all) // 8))
    pq.write_table(edges, out_dir / "edges.parquet", row_group_size=max(1, len(src) // 8))

    # closed-form canonical id per entity: min id over its component
    comp = np.empty(n_ent, dtype=np.int64)
    chain_of = np.arange(n_chain_ents) // per_chain
    chain_min = ids[:n_chain_ents].reshape(spec.n_chains, per_chain).min(axis=1)
    giant_min = min(int(chain_min[:spec.hub_chains].min()) if spec.hub_chains else n_ent,
                    int(ids[hub]))
    chain_min[:spec.hub_chains] = giant_min
    comp[ids[:n_chain_ents]] = chain_min[chain_of]
    ring_ids = ids[n_chain_ents:n_chain_ents + n_ring_ents].reshape(spec.n_rings, spec.ring_size)
    comp[ring_ids.ravel()] = np.repeat(ring_ids.min(axis=1), spec.ring_size)
    comp[ids[hub]] = giant_min
    return {
        "props": {
            "links": len(m_all),
            "mentions": int(m_off),
            "entities": n_ent,
            "entity_graph_edges": len(src),
            "driver_union_find_ceiling": UNION_FIND_CEILING,
            "edges_over_ceiling": round(len(src) / UNION_FIND_CEILING, 3),
            "hub_degree": spec.hub_chains,
            "input_mb": round(dir_mb(out_dir), 3),
        },
        "expect": {
            "components": spec.n_chains + spec.n_rings - spec.hub_chains + 1,
            "giant_size": 1 + spec.hub_chains * per_chain,
            "canonical": comp,  # entity number -> canonical entity number
            "core2": np.sort(ring_ids.ravel()),  # entity numbers in the 2-core
        },
    }


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 2**20
