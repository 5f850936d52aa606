"""Text-analysis operators for large-scale training-data pipelines:
quality scoring, token counting, document fingerprinting.

All are pure Column expressions (JVM-side, whole-stage codegen) — no
Python UDFs in the hot path. Each has an ANSI-SQL oracle twin in
``__spark_entry__.oracle_sql`` (DuckDB), so expressions stick to the
portable subset (md5, regexp_replace, split, filter/size arithmetic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_col(text: Column) -> Column:
    """Whitespace tokenizer."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, 0).otherwise(
        F.size(tokens_col(text))
    )


def punct_ratio(text: Column) -> Column:
    p = F.length(F.regexp_replace(text, "[^.,;:!?，。；：！？]", ""))
    return F.when(F.length(text) == 0, 0.0).otherwise(p / F.length(text))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band + low punctuation
    + mean word length band (C4/Gopher-style rules, public recipes)."""
    n_tok = token_count(text)
    mean_wl = F.when(n_tok == 0, 0.0).otherwise(
        F.length(F.regexp_replace(text, r"\s+", "")) / n_tok
    )
    length_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 0.4).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.2, 0.3).otherwise(0.0)
    wl_ok = F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), 0.3).otherwise(0.0)
    return F.round(length_ok + punct_ok + wl_ok, 2)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-collapsed
    lowercased text (portable across engines)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 3,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Per-document top-k terms by tf·idf (idf = ln(N/df), the plain
    Salton form — portable to any SQL engine for the oracle twin).

    Shape: explode→count gives (doc, term, tf) with map-side combine;
    document frequencies aggregate the SAME table again (no second scan
    of the corpus); N is one bounded scalar. The df table is tiny
    relative to the corpus (vocabulary-sized) and broadcast-joins back.
    ``min_df``/``max_df_frac`` drop hapaxes and stop-terms — the same
    df-cap reasoning as ngram_jaccard_pairs: ubiquitous terms carry no
    signal and dominate cost.

    Ranking note: ties at equal tf·idf are broken by term text so both
    engines produce identical top-k sets.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.count()
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(
            (F.col("df") >= min_df) & (F.col("df") <= int(n_docs * max_df_frac))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Per-document top-k terms by Okapi BM25 weight (Robertson &
    Spärck Jones probabilistic ranking; the Lucene-style non-negative
    idf) — the retrieval-grade upgrade of ``tfidf_top_terms``:

        idf(t)     = ln((N − df + 0.5) / (df + 0.5) + 1)
        score(d,t) = idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))

    Plan shape is identical to tf·idf: ONE explode→(doc,term) groupBy
    with map-side combine; document frequencies AND document lengths
    both aggregate that same tf table (never a second corpus scan); the
    df table is vocabulary-sized and broadcast-joins back. The two
    corpus scalars (Σdl, #docs-with-tokens) ride one bounded aggregate
    — avgdl enters the expression as the exact integer pair
    ``dl·n_d / tot`` so the float arithmetic is reproducible by a SQL
    twin operand-for-operand (same left-assoc order), which is what the
    oracle checks. Ranking happens on the ROUNDED score with a term
    tiebreak, so the top-k set is cross-engine stable.

    ``min_df``/``max_df_frac`` prune hapaxes and stop-terms exactly as
    in tf·idf (same df-cap reasoning as ngram_jaccard_pairs).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.count()
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(
            (F.col("df") >= min_df) & (F.col("df") <= int(n_docs * max_df_frac))
        )
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    tot, n_d = dl.agg(F.sum("dl"), F.count("*")).collect()[0]
    if not tot:
        # token-free corpus: sum over the empty frame is SQL NULL —
        # int(None) crashed here; with 1/1 the downstream joins are
        # empty anyway, so the result is the schema-correct empty
        # table the sibling operators return (round-5 review fix)
        tot, n_d = 1, 1
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    # exact-integer avgdl form: b·dl/avgdl = b·dl·n_d/tot, left-assoc —
    # (0.75·dl)·n_d exact in double well past any real dl, ONE rounding
    # at the division; the oracle mirrors the operand order verbatim
    norm = (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl") * F.lit(int(n_d)) / F.lit(int(tot))
    )
    score = F.round(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + F.lit(k1) * norm),
        4,
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "term", "score", "rank")
    )


def _hashed_grams(
    df: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    """(doc_id, bucket) rows: lowercased whitespace unigrams + bigrams,
    hashed into ``n_buckets`` via the portable 32-bit md5 draw
    (conv(substr(md5(g),1,8),16,10) % B — same arithmetic the SQL
    oracle and random_walks replay)."""
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    with_w = df.select(F.col("doc_id"), w.alias("_w"))
    grams = with_w.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("_w"),
                F.expr(
                    "CASE WHEN size(_w) >= 2 THEN transform("
                    "sequence(0, size(_w) - 2),"
                    " i -> concat(element_at(_w, i + 1), ' ',"
                    " element_at(_w, i + 2))) "
                    "ELSE array() END"
                ),
            )
        ).alias("g"),
    ).where(F.length("g") > 0)
    return grams.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % F.lit(n_buckets)
        ).alias("bucket"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR log importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document
    ``ln p_target(d) − ln p_raw(d)`` under add-α-smoothed hashed-n-gram
    bag models — the principled upgrade of heuristic quality filters:
    rank the raw corpus by similarity to a trusted target corpus, then
    select by weight (compose with ``quantile_keep`` /
    ``quantile_thresholds`` for the resampling step, or exponentiate
    for Gumbel-top-k).

        λ[b]      = ln((c_t[b]+α)/(T_t+αB)) − ln((c_r[b]+α)/(T_r+αB))
        weight(d) = Σ_b c_d[b] · λ[b]

    Features are lowercased whitespace unigrams+bigrams hashed to
    ``n_buckets`` via the 32-bit md5 draw — portable, so a SQL oracle
    replays every bucket bit-for-bit (the paper hashes into 10⁴
    buckets; B is a knob).

    Plan shape: ONE explode→(doc, bucket) groupBy over the raw corpus
    with map-side combine; the raw bucket histogram re-aggregates that
    per-doc table (never a second corpus scan — the tfidf df-table
    trick); the target corpus (typically sample-sized) contributes one
    more bounded aggregate. λ is a ≤B-row table broadcast back; the two
    gram totals are bounded scalars. Docs with no grams get weight 0.0
    (no evidence either way — conservatively neutral).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    per_doc = (
        _hashed_grams(docs, text_col, n_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    c_raw = per_doc.groupBy("bucket").agg(F.sum("cnt").alias("n_r"))
    c_tgt = (
        _hashed_grams(target, text_col, n_buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_t"))
    )
    t_raw = c_raw.agg(F.sum("n_r")).collect()[0][0] or 0
    t_tgt = c_tgt.agg(F.sum("n_t")).collect()[0][0] or 0
    denom = float(alpha * n_buckets)
    lam = (
        c_raw.join(c_tgt, "bucket", "full_outer")
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("n_t"), F.lit(0)) + F.lit(alpha))
                    / F.lit(float(t_tgt) + denom)
                )
                - F.log(
                    (F.coalesce(F.col("n_r"), F.lit(0)) + F.lit(alpha))
                    / F.lit(float(t_raw) + denom)
                )
            ).alias("lam"),
        )
    )
    weights = (
        per_doc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lam")).alias("dsir_weight"))
    )
    return (
        docs.select("doc_id")
        .join(weights, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("dsir_weight"), F.lit(0.0)).alias("dsir_weight"),
        )
    )


def pmi_pairs(
    events: DataFrame,
    x: str = "x",
    y: str = "y",
    min_count: int = 1,
    positive: bool = False,
) -> DataFrame:
    """Pointwise mutual information over co-occurrence EVENTS (one row
    per observed (x, y) pair, repeats = multiplicity) → ``(x, y, n_xy,
    n_x, n_y, pmi)`` — the collocation / association score of Church &
    Hanks (1990): ``pmi = ln(n_xy · N / (n_x · n_y))``, the classic
    edge weighting for co-occurrence graphs (word collocations, entity
    co-mentions, alias association) and the matrix behind SVD/PPMI
    embeddings.

    Events are ORDERED (x from the left vocabulary, y from the right —
    word/context style); for symmetric co-occurrence emit both orders
    and the marginals become true item frequencies. ``positive=True``
    clamps to PPMI (max(0, pmi)), the embedding-standard variant.

    Shape: ONE (x, y) groupBy over the event stream (map-side combine
    does the heavy lifting); both marginals and N aggregate the pair
    table again — vocabulary-sized, never a second corpus scan — and
    broadcast-join back (AQE handles it; the tables are |vocab| rows).
    The integer triple (n_xy, n_x, n_y) is exact and partitioning-
    invariant; only the final ln is float, so any discretization for
    pinning can use the RATIONAL n_xy·N/(n_x·n_y) in pure long
    arithmetic (ln is monotone — same buckets, zero float risk), which
    is exactly what the driver oracle does.
    """
    ev = events.select(F.col(x).alias("x"), F.col(y).alias("y"))
    pairs = ev.groupBy("x", "y").agg(F.count("*").alias("n_xy"))
    n_total = pairs.agg(F.sum("n_xy")).collect()[0][0]
    if n_total is None:  # empty event stream: SUM is NULL, not 0
        return events.sparkSession.createDataFrame(
            [],
            f"x {dict(ev.dtypes)['x']}, y {dict(ev.dtypes)['y']}, "
            "n_xy bigint, n_x bigint, n_y bigint, pmi double",
        )
    mx = pairs.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = pairs.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    scored = (
        pairs.where(F.col("n_xy") >= min_count)
        .join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .withColumn(
            "pmi",
            F.log(
                F.col("n_xy").cast("double")
                * F.lit(float(n_total))
                / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
            ),
        )
    )
    if positive:
        scored = scored.withColumn("pmi", F.greatest(F.col("pmi"), F.lit(0.0)))
    return scored.select("x", "y", "n_xy", "n_x", "n_y", "pmi")


def hash_split(
    text: Column,
    train_frac: float = 0.8,
    valid_frac: float = 0.1,
) -> Column:
    """Deterministic corpus split label ('train'/'valid'/'test') from a
    content hash — the J6 train/valid split generalized to corpus scale:
    stable across runs/partitionings/engines (md5-based, so the DuckDB
    oracle twin is value-exact), no shuffle, no sampling state. Thresholds
    quantize the fractions onto the 256 buckets of the first md5 byte
    (bias < 1/256 per class, vs up-to-28% per-bucket bias of a mod-100
    fold)."""
    b = F.conv(F.substring(F.md5(text), 1, 2), 16, 10).cast("int")
    t1 = round(256 * train_frac)
    t2 = t1 + round(256 * valid_frac)
    return (
        F.when(b < t1, "train").when(b < t2, "valid").otherwise("test")
    )


def rolling_min_fingerprint(
    docs, text_col: str = "text", k: int = 16,
    base: int = 257, mod: int = 2_147_483_647,
):
    """Karp–Rabin ROLLING-hash document fingerprint: the minimum hash
    over all k-char windows (winnowing-style), H(i) = Σ_j cp(c_{i+j})
    ·base^{k−1−j} mod ``mod``. One Arrow-batched pass; per doc the
    windows are ONE vectorized int64 dot product (codepoints < 2²¹,
    powers < 2³¹, k=16 ⇒ exact in int64, mod applied once) — the
    classic O(n) rolling update expressed as a sliding-window matvec.
    Docs shorter than k are excluded (no full window).

    Exact integer arithmetic end-to-end, so the DuckDB oracle twin
    (per-window Σ with literal power list) is value-exact — unlike
    md5-based ``fingerprint``, the rolling form also supports
    sub-document chunking/winnowing at 100 TB (boundary-shift-tolerant
    near-dup units).
    """
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf

    powers = np.array(
        [pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64
    )

    @pandas_udf("long")
    def _rfp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            cp = np.frombuffer(np.array([t]).astype(f"U{max(len(t), 1)}").tobytes(),
                               dtype=np.uint32).astype(np.int64)[: len(t)]
            if len(cp) < k:
                out.append(None)
                continue
            h = (sliding_window_view(cp, k) @ powers) % mod
            out.append(int(h.min()))
        return pd.Series(out, dtype="object")

    return (
        docs.where(F.length(F.col(text_col)) >= k)
        .select("doc_id", _rfp(F.col(text_col)).alias("rfp"))
    )


# ---------------------------------------------------------------- PII
# Portable patterns: the intersection of Java regex (Spark) and RE2
# (DuckDB oracle) — no lookaround, no backrefs, \b and {m,n} only.
# Redaction order is part of the contract: emails first (their dots
# must not be mistaken for IPv4 octets), then +international phones
# (charset [0-9 -] cannot cross a dot, so IPv4 octets are safe), then
# IPv4. Both engines apply the same order, so the redacted text —
# not just the counts — is cross-engine value-exact.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9][0-9 -]{5,16}[0-9]", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_counts(text: Column) -> dict:
    """Per-kind PII match counts as pure Column expressions
    (regexp_count is JVM-side, whole-stage codegen).

    Counts are SEQUENTIAL, mirroring :func:`redact_pii`: kind i is
    counted on the text with kinds < i already masked, so a span an
    earlier pattern consumes (a phone number inside an email address)
    is never double-counted and Σ counts == number of masks in the
    redacted text (round-5 review fix; the oracle twin mirrors the
    same chain)."""
    out = {}
    cur = text
    for kind, pat, token in PII_PATTERNS:
        out[kind] = F.regexp_count(cur, F.lit(pat)).cast("long")
        cur = F.regexp_replace(cur, pat, token)
    return out


def redact_pii(text: Column) -> Column:
    """Masks every PII span with its typed token, in PII_PATTERNS
    order. Chained regexp_replace — zero Python in the hot path."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII report: per-kind counts, total, and the md5
    fingerprint of the redacted text (fingerprint-after-redaction is
    the idempotence check a curation pipeline runs before shipping:
    redact(redact(x)) == redact(x) because the mask tokens contain no
    digits or '@')."""
    t = F.col(text_col)
    counts = pii_counts(t)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        total.alias("n_pii"),
        F.md5(redact_pii(t)).alias("redacted_fp"),
    )


# ------------------------------------- training-mixture sampling + packing


def _md5_byte(text: Column, salt: str) -> Column:
    """First byte (0..255) of md5(salt || '|' || text) — the portable
    deterministic-uniform primitive shared with ``hash_split``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), text)), 1, 2), 16, 10
    ).cast("int")


def _md5_int16(text: Column, salt: str) -> Column:
    """First 16 bits (0..65535) of md5(salt || '|' || text) — same
    portable primitive, wide enough that ``% n_shards`` is near-uniform
    for thousands of shards (the single byte capped useful shard counts
    at 256 and biased any non-divisor — round-5 review fix; 4 hex
    nibbles stay trivially replayable in the DuckDB twin)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), text)), 1, 4), 16, 10
    ).cast("int")


def mixture_keep(
    text: Column,
    domain: Column,
    rates: dict,
    default_rate: float = 1.0,
) -> Column:
    """Deterministic domain-mixture sampling decision (boolean): keep a
    doc with probability ``rates[domain]`` (Pile/DoReMi-style mixture
    reweighting by downsampling over-represented sources), decided by a
    content hash rather than an RNG — stable across runs, partitionings,
    and engines, and independent of the ``hash_split`` byte (different
    salt ⇒ independent md5 bytes). Rates quantize onto 256 buckets
    (bias < 1/256), matching the oracle twin exactly.
    """
    expr = F.lit(round(256 * default_rate))
    # None sorts separately (a NULL domain is what temperature_rates
    # emits for NULL source rows — round-5 review fix: sorted() raised
    # TypeError on the mixed None/str keys the two functions are
    # documented to compose over)
    items = sorted(
        rates.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
    )
    for dom, rate in items:
        cond = domain.isNull() if dom is None else (domain == dom)
        expr = F.when(cond, round(256 * rate)).otherwise(expr)
    return _md5_byte(text, "mix") < expr


def temperature_rates(
    docs: DataFrame,
    domain_col: str = "source",
    temperature: float = 1.0,
) -> dict:
    """Temperature-scaled multinomial mixture rates (Conneau et al.
    ACL 2020 §3.1, the XLM-R / mT5 low-resource-upsampling recipe):
    with corpus shares p_d ∝ n_d, the target mixture is q_d ∝
    p_d^(1/T) — T > 1 flattens the domain distribution toward uniform,
    T = 1 is proportional (no-op), T → ∞ is uniform. Realized as a
    KEEP-rate table for :func:`mixture_keep` (downsampling-only, no
    replication): rate_d ∝ q_d / p_d = p_d^(1/T − 1), rescaled so the
    most-upweighted (smallest) domain keeps everything — the exact
    keep probabilities that make the SURVIVING corpus distribute as q.

    One map-side-combined groupBy over the corpus; the returned dict
    is domain-count-sized (collected — bounded by the source
    vocabulary, same class as the alias dictionaries). Deterministic:
    pure arithmetic on exact counts."""
    if temperature <= 0:
        raise ValueError("temperature_rates: temperature must be > 0")
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(domain_col)
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not counts:
        return {}
    ex = 1.0 / float(temperature) - 1.0
    raw = {d: float(n) ** ex for d, n in counts.items()}
    top = max(raw.values())
    return {d: v / top for d, v in raw.items()}


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """EXACT deterministic stratified sample: exactly ``min(n, |stratum|)``
    rows per stratum — the balanced-eval-set / per-domain-cap sampler
    training pipelines want where ``sampleBy``'s Bernoulli draw gives
    only an expected count. Rows rank within their stratum by
    ``md5(salt|id)`` (id tiebreak) and the first ``n`` survive — a pure
    function of the data (no RNG state), stable across runs,
    partitionings and engines, and independent of the ``hash_split`` /
    ``mixture_keep`` bytes (different salt ⇒ independent md5 orders).

    Cost: ONE hash exchange on the stratum + a per-stratum sort
    (the same shape as any window op); skew bounded by the largest
    stratum. For strata too large to sort, rank-free capping via
    ``quantile_thresholds`` on the md5 value is the approximate
    100 TB path — this operator is the exact one."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("stratified_sample: n must be >= 1")
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
        id_col,
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def pack_chunks(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    order_col: str = "doc_id",
    partition_cols: tuple = (),
    keep_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): concatenate the
    token stream of every (kept) document in a deterministic order and
    cut it into fixed ``budget``-token training sequences. Per doc the
    occupied chunk interval is pure window arithmetic —
    ``chunk_first = floor((cum - tok)/B)``, ``chunk_last =
    floor((cum - 1)/B)`` over a running token sum — so the whole
    operator is JVM-side window + projection, no Python.

    Scale: a single global concatenation would be one total order — a
    1-task sort at 100 TB. Instead docs are salted into ``n_shards``
    deterministic shards (md5 of the text, so shard assignment is
    content-stable) and packed per (partition_cols..., shard): the
    window's PARTITION BY gives one independent token stream per shard,
    each a bounded sort, all shuffled in ONE exchange. Waste is at most
    one partial tail chunk per shard — choose n_shards so
    shard_tokens >> budget (n_shards ≈ cores × k at cluster scale).

    ``keep_col`` (boolean) integrates mixture sampling: dropped docs
    contribute zero tokens and get NULL chunk bounds, but stay in the
    output so callers can report pre/post-sampling stats in one pass.

    Determinism contract: within each shard docs concatenate in
    ``order_col`` order, so the OUTPUT (which docs share a chunk)
    depends on the joint distribution of ``order_col`` and the
    content-hash shard assignment — adding/removing any doc shifts
    chunk boundaries for every later doc in that shard (inherent to
    concat-and-chunk packing, same as the single-stream formulation).
    Reruns over the same input are bit-identical.

    Returns the input columns plus (shard, tok, chunk_first,
    chunk_last, crosses_boundary).
    """
    from pyspark.sql import Window

    if not 1 <= n_shards <= 65536:
        raise ValueError(
            f"pack_chunks: n_shards must be in [1, 65536], got {n_shards} "
            "(shard assignment draws 16 hash bits)"
        )
    tok = token_count(F.col(text_col))
    if keep_col is not None:
        tok = F.when(F.col(keep_col), tok).otherwise(F.lit(0))
    out = docs.withColumn(
        "shard", _md5_int16(F.col(text_col), "shard") % n_shards
    ).withColumn("tok", tok.cast("long"))
    w = (
        Window.partitionBy(*partition_cols, "shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("cum", F.sum("tok").over(w))
    live = F.col("tok") > 0
    return (
        out.withColumn(
            "chunk_first",
            F.when(live, F.floor((F.col("cum") - F.col("tok")) / budget)),
        )
        .withColumn(
            "chunk_last",
            F.when(live, F.floor((F.col("cum") - 1) / budget)),
        )
        .withColumn(
            "crosses_boundary",
            F.when(live, F.col("chunk_last") > F.col("chunk_first")),
        )
        .drop("cum")
    )


# --------------------------------------------- quantile-threshold curation


def quantile_keep(
    score: Column,
    frac: float,
    partition_col: str = "lang",
    tiebreak_col: str = "doc_id",
) -> Column:
    """EXACT top-``frac`` keep decision per partition key (FineWeb-Edu /
    DCLM-style curation: keep the best X% by a quality/classifier score
    within each language): percent_rank over (score DESC, tiebreak) —
    the tiebreak makes the total order deterministic, so the decision is
    reproducible and has an exact cross-engine SQL twin.

    This is the small/medium path: one window sort per partition key.
    At 100 TB a per-key total sort is the bottleneck — use
    :func:`quantile_thresholds` (approx-percentile cutoff + broadcast
    join) there instead.

    Window expressions can't sit in WHERE — materialize first:
    ``docs.withColumn("keep", quantile_keep(...)).where("keep")``.
    """
    from pyspark.sql import Window

    if frac >= 1.0:
        # keep-everything: percent_rank of the last-ordered row is
        # exactly 1.0, so the strict < silently dropped one doc per
        # key when curation was "disabled" (round-5 review fix)
        return F.lit(True)
    w = Window.partitionBy(partition_col).orderBy(
        score.desc(), F.col(tiebreak_col)
    )
    return F.percent_rank().over(w) < frac


def quantile_thresholds(
    docs: DataFrame,
    score: Column,
    frac: float,
    partition_col: str = "lang",
) -> DataFrame:
    """Scale path for quantile curation: per-key score cutoff at the
    (1−frac) quantile via ``percentile_approx`` — one map-side-combined
    aggregation (no per-key sort), the thresholds table is
    |distinct keys| rows and broadcasts back for the keep join:

        thr = quantile_thresholds(docs, score, 0.5)
        kept = docs.join(F.broadcast(thr), "lang").where(score >= F.col("thr"))

    Approximate at the boundary (percentile_approx error bound), exact
    in the interior — the standard trade at corpus scale.
    """
    return docs.groupBy(partition_col).agg(
        F.percentile_approx(score, 1.0 - frac, 10000).alias("thr")
    )


def flesch_reading_ease(text: Column) -> Column:
    """Flesch Reading Ease (Flesch 1948) as a curation SIGNAL:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    with the standard relational proxies — words = whitespace tokens,
    sentences = terminal-punctuation segments containing a word
    character (min 1), syllables = vowel-group count
    (``[aeiouy]+``, case-folded). The syllable heuristic is a proxy
    BY DESIGN (true syllabification needs a dictionary) — what a
    ranking signal needs is determinism and cross-engine
    replayability, and every term here is a regexp count. Empty text
    → 0.0; round(…, 4) for pinnable values."""
    w = token_count(text)
    syl = F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[aeiouy]+"), 0)
    )
    sents = F.greatest(
        F.size(
            F.filter(
                F.split(text, r"[.!?]"), lambda s: F.trim(s).rlike(r"\w")
            )
        ),
        F.lit(1),
    )
    return F.when(
        w > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (w / sents)
            - F.lit(84.6) * (syl / w),
            4,
        ),
    ).otherwise(F.lit(0.0))


def lexical_stats(
    docs: DataFrame, text_col: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Per-document lexical-diversity signals: token/type/hapax counts
    and the type-token ratio — the cheap vocabulary-richness family
    (boilerplate and template spam sit at extreme TTRs; hapax-heavy
    docs are OCR noise or genuinely rich text). ONE explode + a
    two-level aggregate (the ``repetition_stats`` shape — the hapax
    count re-aggregates the per-(doc, token) table, the corpus is
    scanned once); docs with no tokens come back zero-filled.
    Output: ``(doc_id, n_tokens, n_types, n_hapax, ttr)`` with ttr =
    round(types/tokens, 6)."""
    tok = docs.select(
        doc_id,
        F.explode(tokens_col(F.col(text_col))).alias("_w"),
    ).where(F.length("_w") > 0)
    per = (
        tok.groupBy(doc_id, "_w")
        .agg(F.count("*").alias("_c"))
        .groupBy(doc_id)
        .agg(
            F.sum("_c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.sum((F.col("_c") == 1).cast("long")).alias("n_hapax"),
        )
    )
    return (
        docs.select(doc_id)
        .join(per, doc_id, "left")
        .select(
            doc_id,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(F.col("n_types") / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("ttr"),
        )
    )
