"""Entity linking: candidate generation + link scoring (north_star:
"candidate generation via broadcast alias dictionaries + LSH/MinHash
blocking, pairwise link scoring").

Scale design (SURVEY.md §4.2):

* Exact candidates: mentions ⋈ broadcast(aliases) on surface — a
  broadcast-hash join, zero shuffle on the (huge) mentions side. Alias
  dicts up to the autoBroadcastJoinThreshold ride the broadcast; larger
  dicts degrade gracefully to a shuffled hash join that AQE may convert
  per-partition.
* Fuzzy candidates: an EXACT character-bigram Jaccard join by prefix
  filtering (dedup.prefix_jaccard_join) — only pairs whose rarest-first
  bigram prefixes share a rank are verified, so the cross product never
  materializes, and the prefix-filtering theorem makes the blocking
  complete (every pair under the distance threshold is found, the same
  rows on every run). This is the blocking stage; the pairwise scorer
  then ranks candidates.
* Skew: hot surface forms ("张三" in 10% of docs) concentrate on a few
  keys; the exact join is broadcast (no shuffle ⇒ no skew); the fuzzy
  join ranks bigrams rarest first, so a hot surface's bigrams sort to
  the end of each set and drop out of its join-key prefix whenever the
  set is longer than the prefix; the per-surface candidate counts use
  the salted aggregation helper (operators/salting.py).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from .dedup import prefix_jaccard_join

def exact_candidates(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Broadcast-hash join on surface form. mentions must carry
    (mention_id, surface)."""
    return (
        mentions.join(
            F.broadcast(aliases), mentions.surface == aliases.surface_form, "inner"
        )
        .select(
            "mention_id",
            "entity_id",
            F.col("prior").alias("score"),
            F.concat(F.lit("exact:"), F.col("surface")).alias("block_id"),
        )
    )


def alias_priors(
    link_log: DataFrame,
    surface_col: str = "surface_form",
    entity_col: str = "entity_id",
    weight_col: str | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Commonness priors P(entity | surface) from a raw link/anchor log
    — the Milne & Witten 2008 anchor-statistics estimator that feeds
    ``exact_candidates``' alias table (the reference's gazetteer,
    icwb.py:238-247, carries no priors; at web scale the alias dict is
    BUILT from observed anchors, and this is that builder).

    One (surface, entity) groupBy with map-side combine over the log;
    per-surface totals re-aggregate the PAIR table (vocabulary-sized,
    the same never-rescan-the-corpus shape as tfidf's df table), then
    one equi-join and an exact division:

        prior(s, e) = n(s, e) / n(s)

    ``weight_col`` switches counts to weighted sums (e.g. anchor click
    weights). ``min_count`` drops rare (surface, entity) pairs AFTER
    totals are taken, so surviving priors remain true conditional
    probabilities of the full log (they need not sum to 1 per surface
    once the tail is cut — documented, matches the usual commonness
    pruning). Output (surface_form, entity_id, prior, n_links) plugs
    straight into exact_candidates / generate_candidates.

    Scale: both aggregates are keyed shuffles with partial aggregation;
    hot surfaces (the north-rule skew axis) concentrate in the PAIR
    table, which is already collapsed to vocabulary size — the log
    itself is never grouped by surface alone.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    pairs = (
        link_log.select(
            F.col(surface_col).alias("surface_form"),
            F.col(entity_col).alias("entity_id"),
            w.alias("_w"),
        )
        .groupBy("surface_form", "entity_id")
        .agg(F.sum("_w").alias("n_links"))
    )
    totals = pairs.groupBy("surface_form").agg(F.sum("n_links").alias("_tot"))
    return (
        pairs.join(totals, "surface_form")
        .where(F.col("n_links") >= min_count)
        .select(
            "surface_form",
            "entity_id",
            (F.col("n_links") / F.col("_tot")).alias("prior"),
            "n_links",
        )
    )


def _bigrams(col: str):
    """Distinct char bigrams of ``col``; a 1-char string is its own
    single gram."""
    return F.array_distinct(
        F.expr(
            f"case when length({col}) >= 2 then "
            f"transform(sequence(1, length({col}) - 1), i -> substring({col}, i, 2)) "
            f"else array({col}) end"
        )
    ).alias("_g")


def fuzzy_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    jaccard_max_distance: float = 0.5,
) -> DataFrame:
    """Every (mention, alias) pair whose char-bigram-set Jaccard
    distance is STRICTLY below ``t`` — exactly, via the prefix-filter
    join :func:`~.dedup.prefix_jaccard_join` over distinct
    (mention_id, surface) rows × distinct alias rows, so no output row
    repeats. Distance is ``1.0 − |x∩y| / |x∪y|`` in doubles (MLlib's
    MinHash key distance, the DuckDB oracle's form); score =
    (1 − dist)·prior; block_id ``lsh:<surface_form>`` (the blocking-stage
    tag). The prefix threshold is the ppm floor of ``1 − t``, so every
    pair with dist < t passes it; the strict double compare verifies."""
    t = jaccard_max_distance
    if not (0 < t <= 1):
        raise ValueError("fuzzy_candidates: jaccard_max_distance must be in (0, 1]")
    m = mentions.select(
        F.struct("mention_id", "surface").alias("m"), _bigrams("surface")
    ).distinct()
    a = aliases.select(
        F.struct("surface_form", "entity_id", "prior").alias("a"),
        _bigrams("surface_form"),
    ).distinct()
    pairs = prefix_jaccard_join(m, a, math.floor((1.0 - t) * 1_000_000))
    dist = 1.0 - F.col("common") / (F.col("n_l") + F.col("n_r") - F.col("common"))
    return pairs.withColumn("_dist", dist).where(F.col("_dist") < t).select(
        F.col("id_l.mention_id").alias("mention_id"),
        F.col("id_r.entity_id").alias("entity_id"),
        ((1.0 - F.col("_dist")) * F.col("id_r.prior")).alias("score"),
        F.concat(F.lit("lsh:"), F.col("id_r.surface_form")).alias("block_id"),
    )


def _del1(v: str) -> str:
    """SQL expr: array of all single-codepoint deletions of ``v``
    (length-0 input maps to itself — sequence(1,0) would descend)."""
    return (
        f"if(length({v}) = 0, array({v}), "
        f"transform(sequence(1, length({v})), i -> "
        f"concat(substring({v}, 1, i - 1), "
        f"substring({v}, i + 1, length({v})))))"
    )


def _deletion_variants(col: str, d: int) -> str:
    """SQL expr: array_distinct of every string reachable from ``col``
    by deleting UP TO ``d`` codepoints (the string itself included)."""
    if d == 1:
        return f"array_distinct(concat(array({col}), {_del1(col)}))"
    return (
        f"array_distinct(concat(array({col}), {_del1(col)}, "
        f"flatten(transform({_del1(col)}, v -> {_del1('v')}))))"
    )


def edit_distance_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    max_distance: int = 1,
    block_prefix: str = "edit:",
) -> DataFrame:
    """Candidate generation under an edit-distance budget: every
    (mention, alias) pair with levenshtein ≤ ``max_distance``, found via
    FastSS / SymSpell deletion-neighborhood blocking — never an
    all-pairs join.

    Blocking theorem (Bocek et al. 2007, "Fast Similarity Search in
    Large Dictionaries"): if lev(a, b) ≤ d then the ≤d-deletion
    neighborhoods D_d(a) and D_d(b) intersect (delete the unmatched
    positions of an optimal alignment from each side). So an equi-join
    on deletion variants has FULL recall; false positives are removed by
    an exact banded-DP verify (``levenshtein(l, r, threshold)`` —
    JVM-side, O(d·n) early-exit, returns -1 past the budget).

    Scale: each side explodes to O(len^d) variant rows — bounded by the
    short-surface-form regime of alias dictionaries (document the cap,
    don't hide it: a 20-char surface at d=2 is ~191 variants). The join
    is a plain equi-join on the variant string; variants shared by many
    aliases are the skew axis and ride AQE skew-split (or
    operators/salting.py if pinned). Distances are codepoint-based
    (Spark levenshtein semantics).

    Score = prior · (1 − dist / max(len(surface), len(alias))), so an
    exact hit scores the full prior. Complements fuzzy_candidates:
    bigram Jaccard recalls long near-duplicate surfaces; deletion
    blocking recalls short surfaces under small d (typos, dropped
    chars), whose bigram sets share too little to pass a Jaccard
    threshold.
    """
    if max_distance not in (1, 2):
        raise ValueError("max_distance must be 1 or 2 (variant blowup is O(len^d))")
    mv = (
        mentions.select("mention_id", "surface")
        .distinct()
        .select(
            "mention_id",
            "surface",
            F.explode(
                F.expr(_deletion_variants("surface", max_distance))
            ).alias("_v"),
        )
    )
    av = aliases.select(
        "surface_form",
        "entity_id",
        "prior",
        F.explode(
            F.expr(_deletion_variants("surface_form", max_distance))
        ).alias("_v"),
    )
    pairs = (
        mv.join(av, "_v")
        .select("mention_id", "surface", "surface_form", "entity_id", "prior")
        .distinct()
    )
    return (
        pairs.withColumn(
            "_d",
            F.levenshtein(F.col("surface"), F.col("surface_form"), max_distance),
        )
        .where(F.col("_d") >= 0)
        .select(
            "mention_id",
            "entity_id",
            (
                F.col("prior")
                * (
                    1.0
                    - F.col("_d")
                    / F.greatest(
                        F.length("surface"), F.length("surface_form"), F.lit(1)
                    )
                )
            ).alias("score"),
            F.concat(F.lit(block_prefix), F.col("surface_form")).alias("block_id"),
        )
    )


def generate_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    fuzzy: bool = False,
    jaccard_max_distance: float = 0.5,
    edit_distance: int | None = None,
) -> DataFrame:
    """Candidate generation with stacked blocking strategies: exact
    broadcast lookup always; optional exact bigram-Jaccard prefix-filter
    blocking (``fuzzy=True``) and/or FastSS deletion-neighborhood blocking
    (``edit_distance=1|2``) — each recall pass runs only over mentions
    the EARLIER passes left uncovered (anti-join), so a mention's
    candidates come from the cheapest strategy that reached it."""
    cands = exact_candidates(mentions, aliases)

    def uncovered() -> DataFrame:
        return mentions.join(
            cands.select("mention_id").distinct(), "mention_id", "left_anti"
        )

    if fuzzy:
        cands = cands.unionByName(
            fuzzy_candidates(uncovered(), aliases, jaccard_max_distance)
        )
    if edit_distance is not None:
        cands = cands.unionByName(
            edit_distance_candidates(
                uncovered(), aliases, max_distance=edit_distance
            )
        )
    return cands


def score_links(
    candidates: DataFrame,
    mentions: DataFrame | None = None,
    top_k: int = 1,
    w_prior: float = 1.0,
    w_coherence: float = 0.5,
) -> DataFrame:
    """Pairwise scoring + per-mention ranking → links(mention_id,
    entity_id, score). Deterministic tie-break on entity_id.

    Base signal is the candidate ``score`` (alias prior, ×string-sim on
    the fuzzy path). When ``mentions`` (mention_id, doc_id, …) is given,
    a document-coherence term is added: candidates whose entity is also
    supported by OTHER mentions in the same document get
    ``w_coherence·log1p(support-1)`` — the classic collective-linking
    signal, computed relationally (no UDF):

        candidates ⋈ mentions → groupBy(doc_id, entity_id)
                              → countDistinct(mention_id) ⟶ support

    Scale: both the join and the agg are keyed shuffles on
    (doc_id, entity_id); per-doc candidate counts are bounded (docs have
    bounded mentions × bounded candidates per surface), so no hot keys —
    skew lives in surface forms, which this never groups by.
    """
    scored = candidates
    if mentions is not None and "doc_id" in mentions.columns:
        with_doc = candidates.join(
            mentions.select("mention_id", "doc_id"), "mention_id"
        )
        # support as a WINDOW over (doc_id, entity_id) — round 6: the
        # groupBy(countDistinct) + join-back form cost two extra
        # exchanges (countDistinct's two-phase expand plus re-attaching
        # the support table); size(collect_set(...)) over the full
        # partition is the same integer, computed in the one exchange
        # the window needs. Per-(doc, entity) candidate counts are
        # bounded (docs have bounded mentions × bounded candidates per
        # surface), so the per-partition set is small by construction.
        wsup = Window.partitionBy("doc_id", "entity_id")
        scored = (
            with_doc.withColumn(
                "support", F.size(F.collect_set("mention_id").over(wsup))
            )
            .withColumn(
                "score",
                w_prior * F.col("score")
                + w_coherence * F.log1p(F.col("support") - 1),
            )
            .drop("doc_id", "support")
        )
    w = Window.partitionBy("mention_id").orderBy(
        F.col("score").desc(), F.col("entity_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("mention_id", "entity_id", "score")
    )


def fs_weights(
    pairs: DataFrame,
    agree_cols,
    label_col: str = "is_match",
    alpha: float = 0.5,
) -> DataFrame:
    """Fellegi–Sunter record-linkage field weights (Fellegi & Sunter
    JASA 1969; Winkler 1990) from LABELED comparison pairs.

    For each comparison field i with agreement indicator γᵢ the model
    needs m_i = P(γᵢ | match) and u_i = P(γᵢ | non-match); the pair
    score is Σᵢ γᵢ·ln(mᵢ/uᵢ) + (1−γᵢ)·ln((1−mᵢ)/(1−uᵢ)). This builder
    estimates m/u by counting agreement within the labeled strata,
    add-α smoothed (mᵢ = (aᵢ+α)/(nᵢ+2α)) so a field that always/never
    agrees still gets a finite weight. NULL γᵢ = field not comparable
    on that pair — excluded from BOTH numerator and denominator (the
    standard missing-at-random treatment), and contributes 0 at scoring
    time.

    ONE global aggregate over the pair table (conditional sums per
    field, map-side combined — no shuffle wider than the final gather);
    output is a FIELD-count-sized table: (field, a_match, n_match,
    a_nonmatch, n_nonmatch, w_agree, w_disagree), with the exact
    integer counts kept beside the float weights so downstream twins
    can replay the ln from the same rationals. The ln itself runs
    JVM-side (`F.log` over the integer columns), never in python.
    """
    if not agree_cols:
        raise ValueError("fs_weights: empty agree_cols")
    lab = F.col(label_col).cast("boolean")
    aggs = []
    for c in agree_cols:
        g = F.col(c).cast("boolean")
        aggs += [
            F.sum(F.when(g & lab, 1).otherwise(0)).alias(f"am_{c}"),
            F.sum(F.when(g.isNotNull() & lab, 1).otherwise(0)).alias(
                f"nm_{c}"
            ),
            F.sum(F.when(g & ~lab, 1).otherwise(0)).alias(f"au_{c}"),
            F.sum(F.when(g.isNotNull() & ~lab, 1).otherwise(0)).alias(
                f"nu_{c}"
            ),
        ]
    row = pairs.agg(*aggs)
    per_field = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(f"am_{c}").cast("long").alias("a_match"),
                        F.col(f"nm_{c}").cast("long").alias("n_match"),
                        F.col(f"au_{c}").cast("long").alias("a_nonmatch"),
                        F.col(f"nu_{c}").cast("long").alias("n_nonmatch"),
                    )
                    for c in agree_cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    a = F.lit(float(alpha))
    m_agree = (F.col("a_match") + a) / (F.col("n_match") + 2 * a)
    u_agree = (F.col("a_nonmatch") + a) / (F.col("n_nonmatch") + 2 * a)
    m_dis = (F.col("n_match") - F.col("a_match") + a) / (
        F.col("n_match") + 2 * a
    )
    u_dis = (F.col("n_nonmatch") - F.col("a_nonmatch") + a) / (
        F.col("n_nonmatch") + 2 * a
    )
    return per_field.select(
        "field", "a_match", "n_match", "a_nonmatch", "n_nonmatch",
        (F.log(m_agree) - F.log(u_agree)).alias("w_agree"),
        (F.log(m_dis) - F.log(u_dis)).alias("w_disagree"),
    )


def fs_score(
    pairs: DataFrame,
    weights: DataFrame,
    agree_cols=None,
) -> DataFrame:
    """Apply Fellegi–Sunter weights to comparison pairs → the input
    plus a ``fs_score`` column (the log-likelihood-ratio match weight).

    ``weights`` is the field-count-sized output of :func:`fs_weights`
    — collected driver-side (BOUNDED: one row per comparison field)
    and folded into a single JVM CASE expression per field, so scoring
    is one whole-stage-codegen projection over the pair table: zero
    joins, zero shuffles, works unchanged on a 10¹²-pair candidate
    stream. NULL agreement indicators contribute 0.
    """
    w = {r["field"]: (r["w_agree"], r["w_disagree"]) for r in weights.collect()}
    cols = list(agree_cols) if agree_cols is not None else list(w)
    missing = [c for c in cols if c not in w]
    if missing:
        raise ValueError(f"fs_score: no weights for fields {missing}")
    score = F.lit(0.0)
    for c in cols:
        g = F.col(c).cast("boolean")
        score = score + (
            F.when(g.isNull(), 0.0)
            .when(g, F.lit(w[c][0]))
            .otherwise(F.lit(w[c][1]))
        )
    return pairs.withColumn("fs_score", score)


def fs_classify(
    scored: DataFrame,
    upper: float,
    lower: float,
    score_col: str = "fs_score",
) -> DataFrame:
    """The Fellegi–Sunter three-way decision rule: ``match`` above
    ``upper``, ``nonmatch`` below ``lower``, ``possible`` between (the
    clerical-review band). Pure expression — no shuffle."""
    if lower > upper:
        raise ValueError("fs_classify: lower must be ≤ upper")
    return scored.withColumn(
        "decision",
        F.when(F.col(score_col) > upper, "match")
        .when(F.col(score_col) < lower, "nonmatch")
        .otherwise("possible"),
    )


def phonetic_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    surface_col: str = "surface",
    alias_col: str = "surface_form",
) -> DataFrame:
    """Phonetic blocking (classic record-linkage): candidates = mention
    × alias pairs sharing a Soundex code. Runs on Spark's built-in
    ``F.soundex`` (JVM expression, zero UDF); the join is an equi-join
    on the 4-char code, so the cross product never materializes — the
    block structure is exactly the Soundex partition of the name space.
    Latin-script names only (Soundex is undefined for CJK — those
    surfaces hash to themselves and only exact-match); pair with
    :func:`fuzzy_candidates` / :func:`edit_distance_candidates` for
    script-independent recall.
    """
    m = mentions.withColumn("_blk", F.soundex(F.col(surface_col)))
    a = aliases.withColumn("_blk", F.soundex(F.col(alias_col)))
    return (
        m.join(a, "_blk")
        .where(F.col(surface_col) != F.col(alias_col))  # exact pairs ride
        .drop("_blk")                                   # exact_candidates
    )


def blocking_metrics(
    candidate_pairs: DataFrame,
    true_pairs: DataFrame,
    n_left: int,
    n_right: int | None = None,
    id_cols=("id_a", "id_b"),
) -> DataFrame:
    """Blocking quality report (Christen 2012): one row with
    ``n_candidates``, ``n_true``, ``n_found`` (true pairs surviving the
    blocker), ``pair_completeness`` = n_found/n_true (the blocker's
    RECALL — the number that bounds end-to-end linkage recall), and
    ``reduction_ratio`` = 1 − n_candidates/n_total (fraction of the
    cross product never scored). ``n_right=None`` means dedup mode:
    n_total = C(n_left, 2); otherwise n_total = n_left·n_right.

    n_found is ONE left-semi join (true pairs are the small side at any
    scale — they are bounded by real-world duplication rates); the
    counts are global aggregates. No driver-side pair materialization.
    """
    a, b = id_cols
    n_total = (
        n_left * (n_left - 1) // 2 if n_right is None else n_left * n_right
    )
    if n_total <= 0:
        raise ValueError("blocking_metrics: empty comparison space")
    # canonicalize pair ORIENTATION on both sides before comparing —
    # blockers emit pairs in their own order (sorted-neighborhood: sort
    # position; others: id order), and an orientation mismatch against
    # the truth table silently zeroed pair_completeness (round-5 review
    # fix). least/greatest is orientation-invariant for any orderable
    # id type.
    def _canon(df):
        return df.select(
            F.least(F.col(a), F.col(b)).alias(a),
            F.greatest(F.col(a), F.col(b)).alias(b),
        ).distinct()

    cand = _canon(candidate_pairs)
    true_d = _canon(true_pairs)
    n_cand = cand.count()
    n_true = true_d.count()
    n_found = true_d.join(cand, [a, b], "left_semi").count()
    spark = candidate_pairs.sparkSession
    return spark.createDataFrame(
        [
            (
                n_cand,
                n_true,
                n_found,
                float(n_found) / n_true if n_true else 1.0,
                1.0 - float(n_cand) / n_total,
            )
        ],
        "n_candidates long, n_true long, n_found long, "
        "pair_completeness double, reduction_ratio double",
    )


def fs_em_weights(
    pairs: DataFrame,
    agree_cols,
    n_iter: int = 20,
    prevalence: float = 0.1,
    alpha: float = 0.5,
    clamp: float = 1e-6,
) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter weights via the two-class EM of
    Winkler 1988 ("Using the EM algorithm for weight computation in the
    Fellegi-Sunter model") — the estimation method the 1969 paper
    actually calls for when no labels exist.

    Model: each pair is a mixture of match/non-match classes with
    per-field conditional-independence Bernoullis. E-step computes the
    match responsibility of each pair from the current (π, m, u);
    M-step re-estimates them from responsibility-weighted agreement
    sums. Deterministic: fixed ``n_iter``, fixed init (mᵢ⁰ = 0.9,
    uᵢ⁰ = the field's overall agreement rate, π⁰ = ``prevalence`` —
    Winkler's standard start), no RNG. ``clamp`` keeps m/u inside
    (clamp, 1−clamp) so log-weights stay finite; NULL γᵢ contributes
    nothing to either step (missing-at-random, same treatment as
    :func:`fs_weights`).

    Distributed shape per iteration: the E-step is ONE codegen'd
    projection (the responsibility is a closed-form expression with
    literal m/u/π — no join), the M-step is ONE global aggregate
    (2·k+1 conditional sums, map-side combined), and the k+1 numbers
    collected per iteration are field-count-sized. n_iter · 2 jobs
    total; the pair table is never shuffled. Output schema matches
    :func:`fs_weights` (a_*/n_* carry the FINAL responsibility-weighted
    sums rounded to longs for inspection; w_agree/w_disagree are the
    EM weights) so :func:`fs_score` consumes either.
    """
    import math

    if not agree_cols:
        raise ValueError("fs_em_weights: empty agree_cols")
    if n_iter < 1:
        raise ValueError("fs_em_weights: n_iter must be ≥ 1")
    if not 0.0 < prevalence < 1.0:
        raise ValueError("fs_em_weights: prevalence must be in (0,1)")
    spark = pairs.sparkSession
    k = len(agree_cols)

    def _cl(x: float) -> float:
        return min(max(x, clamp), 1.0 - clamp)

    # init: u from observed agreement rates (one aggregate), m = 0.9
    init = pairs.agg(
        *[
            F.avg(F.col(c).cast("boolean").cast("double")).alias(c)
            for c in agree_cols
        ]
    ).collect()[0]
    m = [0.9] * k
    u = [_cl(init[c] if init[c] is not None else 0.5) for c in agree_cols]
    pi = prevalence
    pairs = pairs.localCheckpoint(eager=False)
    for _ in range(n_iter):
        # E-step expression: log-odds accumulation, NULL fields skip
        log_odds = F.lit(math.log(pi) - math.log(1.0 - pi))
        for i, c in enumerate(agree_cols):
            g = F.col(c).cast("boolean")
            log_odds = log_odds + (
                F.when(g.isNull(), 0.0)
                .when(g, F.lit(math.log(m[i]) - math.log(u[i])))
                .otherwise(
                    F.lit(math.log(1.0 - m[i]) - math.log(1.0 - u[i]))
                )
            )
        r = F.lit(1.0) / (F.lit(1.0) + F.exp(-log_odds))
        aggs = [F.sum(r).alias("_sr"), F.count("*").alias("_n")]
        for c in agree_cols:
            g = F.col(c).cast("boolean")
            gd = g.cast("double")
            aggs += [
                F.sum(F.when(g.isNotNull(), r * gd)).alias(f"_rm_{c}"),
                F.sum(F.when(g.isNotNull(), r)).alias(f"_nm_{c}"),
                F.sum(F.when(g.isNotNull(), (1.0 - r) * gd)).alias(
                    f"_ru_{c}"
                ),
                F.sum(F.when(g.isNotNull(), 1.0 - r)).alias(f"_nu_{c}"),
            ]
        row = pairs.agg(*aggs).collect()[0]
        # an agreement field that is NULL on EVERY pair aggregates its
        # conditional sums to SQL NULL → python None; fold to 0.0 so
        # the alpha-smoothed estimate applies (the init step already
        # guards this exact case with 0.5 — round-5 review fix of a
        # TypeError in the M-step)
        z = lambda v: 0.0 if v is None else v  # noqa: E731
        pi = _cl(row["_sr"] / row["_n"])
        m = [
            _cl((z(row[f"_rm_{c}"]) + alpha) / (z(row[f"_nm_{c}"]) + 2 * alpha))
            for c in agree_cols
        ]
        u = [
            _cl((z(row[f"_ru_{c}"]) + alpha) / (z(row[f"_nu_{c}"]) + 2 * alpha))
            for c in agree_cols
        ]
    final = row
    z = lambda v: 0.0 if v is None else v  # noqa: E731
    out = [
        (
            c,
            int(round(z(final[f"_rm_{c}"]))),
            int(round(z(final[f"_nm_{c}"]))),
            int(round(z(final[f"_ru_{c}"]))),
            int(round(z(final[f"_nu_{c}"]))),
            math.log(m[i]) - math.log(u[i]),
            math.log(1.0 - m[i]) - math.log(1.0 - u[i]),
        )
        for i, c in enumerate(agree_cols)
    ]
    return spark.createDataFrame(
        out,
        "field string, a_match long, n_match long, a_nonmatch long, "
        "n_nonmatch long, w_agree double, w_disagree double",
    )


def sorted_neighborhood_candidates(
    records: DataFrame,
    key_col: str,
    id_col: str = "id",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD 1995):
    sort records by a fuzzy blocking key, slide a window of size
    ``window``, emit every pair co-resident in some window — i.e. all
    pairs within ``window − 1`` positions of each other in sort order.
    Output (id_a, id_b, key_a, key_b), id_a/id_b ordered by sort
    position. Deterministic: ties in the key break on ``id_col``.

    Physical shape: the global dense rank is DISTRIBUTED — a
    ``repartitionByRange`` on (key, id) orders partitions, a checkpointed
    per-partition ``row_number`` ranks within each, and partition-count
    offsets (one bounded ≤-shuffle-partitions collect) lift the local
    ranks to global ones. Round-5 review fix: the previous
    ``row_number over Window.orderBy(...)`` with no partitionBy planned
    as Exchange SinglePartition — every record through ONE task, the
    exact antithesis of the linear-scale claim. Then an explode of the
    ``window − 1`` offsets + one equi-join of the ranked table with
    itself on ``rank + off`` — candidate volume is exactly
    n·(window−1), linear in the corpus, never quadratic. The classic
    multi-pass variant is just a union of calls with different
    ``key_col``s.
    """
    from pyspark.sql import Window as W

    if window < 2:
        raise ValueError("sorted_neighborhood_candidates: window must be ≥ 2")
    spark = records.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = records.select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_key")
    )
    # range-partition on the FULL sort key so duplicates of a hot key
    # still split across partitions; checkpoint so the pid column, the counts
    # and the rank all read one stable layout
    parted = (
        base.repartitionByRange(p, F.col("_key"), F.col("_id"))
        .localCheckpoint()
        .withColumn("_pid", F.spark_partition_id())
    )
    sizes = sorted(
        (r["_pid"], r["cnt"])
        for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    acc, offs = 0, {}
    for pid, cnt in sizes:
        offs[pid] = acc
        acc += cnt
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offs.items() for x in pid_off]
    ) if offs else F.create_map()
    ranked = parted.withColumn(
        "_rk",
        F.row_number().over(
            W.partitionBy("_pid").orderBy(F.col("_key"), F.col("_id"))
        )
        + F.coalesce(off_map[F.col("_pid")], F.lit(0)),
    )
    left = ranked.select(
        F.col("_id").alias("id_a"), F.col("_key").alias("key_a"), "_rk"
    ).withColumn("_off", F.explode(F.array(*[F.lit(i) for i in range(1, window)])))
    right = ranked.select(
        F.col("_id").alias("id_b"), F.col("_key").alias("key_b"),
        F.col("_rk").alias("_rk_b"),
    )
    return (
        left.join(right, left["_rk"] + left["_off"] == right["_rk_b"])
        .select("id_a", "id_b", "key_a", "key_b")
    )


def meta_blocking(
    blocks: DataFrame,
    block_col: str = "block_key",
    id_col: str = "record_id",
    scheme: str = "wnp",
    max_block_size: int | None = 1000,
) -> DataFrame:
    """Meta-blocking (Papadakis, Koutrika, Palpanas & Nejdl, TKDE 2014):
    prune a redundancy-positive block collection's candidate pairs by
    the evidence of HOW MANY blocks each pair co-occurs in, instead of
    scoring every co-occurring pair.

    Input: one row per (block key, record id) assignment — the output
    shape of every blocker in this module (token blocking = exploded
    tokens, soundex codes, sorted-neighborhood windows, …; a record may
    sit in many blocks). Pipeline:

    1. **Block purging**: blocks larger than ``max_block_size`` are
       dropped wholesale (their pair lists are quadratic and their
       evidence near-zero — the standard pre-step, and the guard that
       bounds the self-join below by Σ size² over SURVIVING blocks).
    2. **Blocking graph**: distinct co-occurring pairs with CBS weight
       = number of shared blocks (one within-block self-join with
       ``id_a < id_b``, one map-side-combined groupBy).
    3. **Pruning** — ``scheme``:
       * ``'wnp'`` (weighted node pruning, the paper's best
         recall/precision trade): an edge survives if its weight is ≥
         the average incident-edge weight of EITHER endpoint
         (the redefined-WNP union form).
       * ``'wep'`` (weighted edge pruning): an edge survives if its
         weight is ≥ the global mean edge weight.

    Every average comparison is evaluated in EXACT integer arithmetic —
    ``w·cnt ≥ sum`` instead of ``w ≥ sum/cnt`` — so the kept set is
    identical across engines and partitionings (no float-division
    boundary cases), which is what lets a SQL twin replay the pruning
    verbatim.

    Returns ``(id_a, id_b, weight, kept)`` for every blocking-graph
    edge — callers filter ``kept`` (kept=false rows are the audit
    trail; at scale project them away before materializing).

    Scale: never materializes the cross product — pair volume is
    bounded by purged block sizes; the node-average table is
    node-cardinality; the global mean is one scalar aggregate.
    """
    if scheme not in ("wnp", "wep"):
        raise ValueError(f"meta_blocking: unknown scheme {scheme!r}")
    b = blocks.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("rid")
    ).distinct()
    if max_block_size is not None:
        sizes = b.groupBy("bk").agg(F.count("*").alias("n_bk"))
        b = b.join(
            sizes.where(F.col("n_bk") <= max_block_size).select("bk"),
            "bk",
        )
    left = b.select("bk", F.col("rid").alias("id_a"))
    right = b.select("bk", F.col("rid").alias("id_b"))
    edges = (
        left.join(right, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("weight"))
    ).localCheckpoint(eager=False)
    if scheme == "wep":
        tot = edges.agg(
            F.sum("weight").alias("s"), F.count("*").alias("c")
        )
        return edges.crossJoin(F.broadcast(tot)).select(
            "id_a", "id_b", "weight",
            (F.col("weight") * F.col("c") >= F.col("s")).alias("kept"),
        )
    incident = edges.select(
        F.col("id_a").alias("rid"), "weight"
    ).union(edges.select(F.col("id_b").alias("rid"), "weight"))
    node_stats = incident.groupBy("rid").agg(
        F.sum("weight").alias("s"), F.count("*").alias("c")
    )
    sa = node_stats.select(
        F.col("rid").alias("id_a"),
        F.col("s").alias("s_a"), F.col("c").alias("c_a"),
    )
    sb = node_stats.select(
        F.col("rid").alias("id_b"),
        F.col("s").alias("s_b"), F.col("c").alias("c_b"),
    )
    return (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "weight",
            (
                (F.col("weight") * F.col("c_a") >= F.col("s_a"))
                | (F.col("weight") * F.col("c_b") >= F.col("s_b"))
            ).alias("kept"),
        )
    )


def _jaro_winkler_py(s1: str, s2: str, p: float = 0.1,
                     boost_threshold: float = 0.7, max_prefix: int = 4
                     ) -> float:
    """Classic Jaro (1989) + Winkler (1990) prefix boost — the textbook
    recursion: half-window matching, half the unmatched-order count as
    transpositions, prefix bonus only above the 0.7 boost threshold.
    Verified byte-for-byte against DuckDB's jaro_winkler_similarity
    (test_linking_cc) so the oracle twin is LIVE, not pinned."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        # either side empty → 0, INCLUDING ''≡'' (DuckDB/rapidfuzz
        # convention, matched so the oracle twin replays live)
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (
        matches / l1 + matches / l2 + (matches - t) / matches
    ) / 3.0
    if jaro > boost_threshold:
        pre = 0
        for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
            if a != b:
                break
            pre += 1
        jaro += pre * p * (1.0 - jaro)
    return jaro


def jaro_winkler_col(a, b):
    """Jaro–Winkler similarity of two string Columns → double Column —
    the classical record-linkage name comparator (Winkler's census
    matcher; the canonical γ-agreement input for :func:`fs_weights`).

    This is a pandas UDF — a deliberate exception to the no-Python-UDF
    rule, with the standard justification for verify-stage comparators:
    it runs AFTER blocking (FastSS / soundex / sorted-neighborhood /
    meta-blocking), so the row stream is the CANDIDATE pair list
    (linear-ish), never the cross product; JW's per-row DP has no
    JVM-builtin form, and the Arrow batch transfer amortizes the
    boundary to ~100ns/row. NULL in either side → NULL (SQL comparator
    convention). Semantics = classic Jaro+Winkler (p=0.1, boost
    threshold 0.7, prefix ≤ 4) — empirically equal to DuckDB's
    jaro_winkler_similarity on the full fuzz matrix, so oracle rows
    replay it live.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = [
            None if x is None or y is None else _jaro_winkler_py(x, y)
            for x, y in zip(xs, ys)
        ]
        return pd.Series(out, dtype="float64")

    return _jw(a, b)


def monge_elkan(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    sym: bool = True,
) -> DataFrame:
    """Monge–Elkan hybrid similarity (Monge & Elkan KDD 1996) over a
    CANDIDATE pair table: tokenize both strings on whitespace, score
    every token pair with Jaro–Winkler, and take the mean over a's
    tokens of the best-matching b token —

        ME(a, b) = (1/|a|) Σ_i max_j JW(a_i, b_j)

    — the standard comparator for multi-token names where token order
    and extra tokens vary ("IBM Corp" vs "Corp. of IBM"). ME is
    asymmetric; ``sym=True`` (default) returns the mean of both
    directions, the common symmetrized form.

    Plan shape: the pair table (candidate list, AFTER blocking — never
    a cross product) explodes to a·b token pairs bounded by the token
    counts, one Arrow-batched JW pass scores them (the same
    ``jaro_winkler_col`` kernel the verify stage uses), and two
    grouped aggregates (max per (pair, a-token) then avg per pair)
    fold it back — the row multiplication is |a|·|b| per candidate
    pair, the price every Monge-Elkan implementation pays. Empty/
    whitespace-only sides score NULL (no tokens to match — SQL
    comparator convention). Every step is relational, so a DuckDB
    twin replays it with its own jaro_winkler_similarity.

    The ``_pid`` join key comes from ``monotonically_increasing_id``,
    which depends on physical row order; the keyed frame is
    materialized with a lazy ``localCheckpoint`` so the tok_a branch,
    tok_b branch and the final join-back all read the SAME ids even
    when ``pairs`` is the output of a shuffle whose recomputation
    order is not contractual (task retry / branch recompute)."""
    keyed = pairs.withColumn(
        "_pid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)

    def _direction(left_col, right_col, out):
        tok_a = keyed.select(
            "_pid", F.posexplode(
                F.filter(
                    F.split(F.trim(F.col(left_col)), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("_ia", "_ta"),
        )
        tok_b = keyed.select(
            "_pid", F.explode(
                F.filter(
                    F.split(F.trim(F.col(right_col)), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("_tb"),
        )
        scored = tok_a.join(tok_b, "_pid").withColumn(
            "_jw", jaro_winkler_col(F.col("_ta"), F.col("_tb"))
        )
        best = scored.groupBy("_pid", "_ia").agg(F.max("_jw").alias("_m"))
        return best.groupBy("_pid").agg(F.avg("_m").alias(out))

    ab = _direction(col_a, col_b, "_me_ab")
    if sym:
        ba = _direction(col_b, col_a, "_me_ba")
        me = ab.join(ba, "_pid").select(
            "_pid",
            ((F.col("_me_ab") + F.col("_me_ba")) / 2).alias("monge_elkan"),
        )
    else:
        me = ab.select("_pid", F.col("_me_ab").alias("monge_elkan"))
    return keyed.join(me, "_pid", "left").drop("_pid")


def soft_tfidf(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    corpus: DataFrame,
    name_col: str = "name",
    theta: float = 0.9,
    require_in_corpus: bool = True,
) -> DataFrame:
    """SoftTFIDF hybrid similarity (Cohen, Ravikumar & Fienberg,
    IIWeb 2003 — the best-performing name comparator in their study,
    completing the JW → Monge-Elkan → SoftTFIDF verify trio):

        S(a, b) = Σ_{w ∈ CLOSE(θ)} V(w, a) · V(argmax_JW w', b) · JW(w, w')

    where CLOSE(θ) = a-tokens whose best Jaro-Winkler match in b is
    ≥ θ, and V are L2-normalized log-TF·IDF token weights computed
    over ``corpus`` (a one-column table of names — typically the
    union of both sides; idf = ln(N / df) over DISTINCT names).

    Plan shape: token df is ONE vocabulary-sized aggregate over the
    corpus, broadcast back; per-name weights normalize with one
    grouped sum; the pair scoring explodes to a·b token pairs (the
    candidate list, AFTER blocking), scores them with the same
    Arrow-batched JW kernel, keeps pairs ≥ θ, resolves each a-token's
    argmax by a deterministic struct max (jw, V_b, token), and one
    grouped sum folds the score. Pairs with no θ-close tokens score
    0.0; empty/whitespace sides NULL.

    ``corpus`` MUST contain every pair-side name (weights are
    per-name, so an out-of-corpus name has no defined V and would
    silently score 0.0); ``require_in_corpus=True`` (default)
    enforces this with one anti-join over the distinct pair names and
    raises on violation — pass ``False`` to accept the 0.0 convention
    knowingly."""
    if not (0 < theta <= 1):
        raise ValueError("soft_tfidf: theta must be in (0, 1]")
    toks_of = lambda c: F.filter(  # noqa: E731
        F.split(F.trim(F.col(c)), r"\s+"), lambda t: t != ""
    )
    names = corpus.select(F.col(name_col).alias("_nm")).distinct()
    n_names = names.count()
    tok = names.select(
        "_nm", F.explode(F.array_distinct(toks_of("_nm"))).alias("_t")
    )
    dfreq = tok.groupBy("_t").agg(F.count("*").alias("_df"))
    # per-name weights: tf from the (non-distinct) token list,
    # v' = ln(tf + 1) · ln(N / df), V = v'/‖v'‖₂
    tok_tf = (
        names.select("_nm", F.explode(toks_of("_nm")).alias("_t"))
        .groupBy("_nm", "_t")
        .agg(F.count("*").alias("_tf"))
        .join(F.broadcast(dfreq), "_t")
        .withColumn(
            "_v",
            F.log(F.col("_tf") + 1.0)
            * F.log(F.lit(float(n_names)) / F.col("_df")),
        )
    )
    norms = tok_tf.groupBy("_nm").agg(
        F.sqrt(F.sum(F.col("_v") * F.col("_v"))).alias("_nrm")
    )
    weights = (
        tok_tf.join(norms, "_nm")
        .select(
            "_nm",
            "_t",
            F.when(F.col("_nrm") > 0, F.col("_v") / F.col("_nrm"))
            .otherwise(F.lit(0.0))
            .alias("_w"),
        )
        .localCheckpoint(eager=False)
    )
    if require_in_corpus:
        # fail loudly instead of silently scoring out-of-corpus names
        # 0.0 (their tokens would vanish in the inner weights join and
        # the result would be indistinguishable from a genuine
        # no-close-match 0.0) — one small job over the DISTINCT
        # post-blocking pair names, anti-joined against the corpus.
        missing = (
            pairs.select(F.col(col_a).alias("_nm"))
            .union(pairs.select(F.col(col_b).alias("_nm")))
            .where(F.trim(F.col("_nm")) != "")
            .distinct()
            .join(names, "_nm", "left_anti")
            .limit(3)
            .collect()
        )
        if missing:
            raise ValueError(
                "soft_tfidf: pair-side names absent from corpus "
                f"(e.g. {[r['_nm'] for r in missing]}); pass the union "
                "of both sides as corpus, or require_in_corpus=False "
                "to score them 0.0"
            )
    # _pid from monotonically_increasing_id is order-dependent; checkpoint
    # (see monge_elkan) so ta/tb/join-back agree under recomputation.
    keyed = pairs.withColumn(
        "_pid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    ta = (
        keyed.select("_pid", F.col(col_a).alias("_nm"))
        .join(weights, "_nm")
        .select("_pid", F.col("_t").alias("_ta"), F.col("_w").alias("_wa"))
    )
    tb = (
        keyed.select("_pid", F.col(col_b).alias("_nm"))
        .join(weights, "_nm")
        .select("_pid", F.col("_t").alias("_tb"), F.col("_w").alias("_wb"))
    )
    scored = (
        ta.join(tb, "_pid")
        .withColumn("_jw", jaro_winkler_col(F.col("_ta"), F.col("_tb")))
        .where(F.col("_jw") >= theta)
    )
    best = scored.groupBy("_pid", "_ta", "_wa").agg(
        F.max(F.struct("_jw", "_wb", "_tb")).alias("_b")
    )
    contrib = best.select(
        "_pid",
        (F.col("_wa") * F.col("_b._wb") * F.col("_b._jw")).alias("_c"),
    )
    score = contrib.groupBy("_pid").agg(F.sum("_c").alias("soft_tfidf"))
    has_toks = keyed.select(
        "_pid",
        (F.size(toks_of(col_a)) > 0) & (F.size(toks_of(col_b)) > 0),
    ).toDF("_pid", "_ok")
    return (
        keyed.join(score, "_pid", "left")
        .join(has_toks, "_pid")
        .withColumn(
            "soft_tfidf",
            # NULL-name sides make _ok NULL (size(split(NULL)) is not
            # false), and ~NULL skipped the NULL branch so a NULL name
            # scored 0.0 — indistinguishable from a genuine
            # no-close-match zero and invisible to require_in_corpus
            # (round-5 review fix: NULL _ok folds to not-ok → NULL
            # score, matching monge_elkan/jaro_winkler_col)
            F.when(
                ~F.coalesce(F.col("_ok"), F.lit(False)),
                F.lit(None).cast("double"),
            ).otherwise(F.coalesce("soft_tfidf", F.lit(0.0))),
        )
        .drop("_pid", "_ok")
    )
