"""Deduplication suite for training-data pipelines (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup, cross-doc dup-span
stats + removal, corpus-level line dedup).

Portability note: stages meant for DuckDB oracle comparison use only
md5-based hashing (identical bytes→hex across engines). Spark-internal
fast paths use xxhash64 (JVM codegen) — flagged per function.

Scale notes:
* exact dedup = hash groupBy — partial aggregation + AQE; no skew issue
  because fingerprints are uniform.
* MinHash: signatures are computed per-row (narrow); the LSH band join
  groups by (band, band_hash) so only colliding docs shuffle together —
  never a cross product.
* SimHash: 64-bit; near-dup = identical simhash (or banded 16-bit keys).
* embedding near-dup: block by coarse quantization of the first
  principal-ish dims, cosine within block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------- exact (E)


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp, n_docs, keeper): keeper = min doc_id per normalized-text md5.

    NULL-text docs have no fingerprint and are excluded — md5(NULL) is
    NULL, and grouping on it would report every failed-extraction doc
    as one giant bogus dup group (round-5 review fix)."""
    from .text_analysis import fingerprint

    return (
        docs.select(F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep exactly one doc per fingerprint (the min doc_id).

    NULL-text docs all share a NULL fingerprint but are NOT duplicates
    of each other — every one is kept (round-5 review fix: the window
    grouped them into one partition and silently deleted all but
    one)."""
    from .text_analysis import fingerprint

    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) | F.col("fp").isNull())
        .drop("rn", "fp")
    )


# ------------------------------------------------- word-shingle helpers


def shingles_expr(text_col: str, k: int = 3) -> str:
    """SQL expression producing k-word shingles of ``text_col`` (portable:
    same logic is expressible in DuckDB; see __spark_entry__ oracles).

    The token array is bound ONCE per row via the nested-transform trick
    (``transform(array(split(..)), toks -> ...)``) — naming split's result
    as a lambda variable. Referencing ``split(...)`` directly inside the
    shingle lambda re-evaluates it per element (no CSE inside lambdas):
    measured ~L× slower for L-token documents.
    """
    # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, so docs with
    # < k tokens need an explicit empty branch (slice at 0 is an error)
    return (
        f"flatten(transform(array(split(trim({text_col}), '\\\\s+')), "
        f"toks -> case when size(toks) >= {k} then "
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {k}))) "
        f"else array() end))"
    )


# ----------------------------------------------------------- MinHash+LSH


def _xx_filler(j: int):
    """Sentinel signature value for zero-shingle docs on the xxhash64
    path — must match between ``minhash_signatures`` and
    ``minhash_dup_pairs``'s all-filler detection."""
    return F.xxhash64(F.lit(j), F.xxhash64(F.lit(f"{j}|")))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = 8, k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, h0..h{n-1}) minhash signature table.

    ``hash_fn="md5"`` (default): h_j = lexicographic min over shingles
    of md5(j || '|' || s) — portable to any SQL engine, used by the
    DuckDB oracle twin.
    ``hash_fn="xxhash64"``: the PRODUCTION setting — each shingle is
    string-hashed ONCE (H = xxhash64(s)), then the num_hashes values
    derive as xxhash64(j, H): Broder's universal-hash-family trick, so
    the string-hash cost is paid once instead of num_hashes times (the
    signature pass is string-hash-bound at web scale; measured ~5× on
    the 10^5-doc dedup bench, and the gap widens with num_hashes).
    Signature columns are LONG here, not hex strings. Any consistent
    per-j total order gives valid LSH semantics — only signature
    EQUALITY feeds the banding.
    Docs shorter than k words get a stable filler signature either way.

    FORMAT BREAK (round 3): the xxhash64 variant changed from
    hex-string ``min(xxhash64(j||'|'||s))`` to the long-valued
    ``xxhash64(j, xxhash64(s))`` derivation above. Signature tables
    persisted under the old scheme and passed to ``minhash_dup_pairs``
    via ``signatures=`` will band-collide with NOTHING from the new
    scheme — regenerate persisted signatures rather than mixing
    formats (the column types differ — string vs long — so a schema
    check catches accidental mixing).
    """
    # Shape: explode shingles once, hash once per row (+ cheap per-j
    # long-hashes), map-side-combined min per doc. The tempting
    # all-column form — num_hashes expressions each containing
    # transform(shingles, …) — re-evaluates split()/slice() per ARRAY
    # ELEMENT per column (Catalyst doesn't CSE inside lambdas):
    # measured 6× slower at sf0.1 and quadratically worse with
    # num_hashes. A NULL marker element keeps shingle-less docs in the
    # output.
    sh = F.expr(shingles_expr(text_col, k))
    ex = docs.select(
        "doc_id", F.explode(F.concat(sh, F.array(F.lit(None)))).alias("s")
    )
    if hash_fn == "md5":
        aggs = [
            F.min(
                F.when(
                    F.col("s").isNotNull(),
                    F.md5(F.concat(F.lit(f"{j}|"), F.col("s"))),
                )
            ).alias(f"m{j}")
            for j in range(num_hashes)
        ]
        fill = [F.md5(F.lit(f"{j}|")) for j in range(num_hashes)]
    elif hash_fn == "xxhash64":
        ex = ex.withColumn(
            "_hs", F.when(F.col("s").isNotNull(), F.xxhash64("s"))
        )
        # xxhash64 skips NULL args (would hash the j-lit alone), so the
        # isNotNull guard must wrap the whole expression
        aggs = [
            F.min(
                F.when(
                    F.col("_hs").isNotNull(),
                    F.xxhash64(F.lit(j), F.col("_hs")),
                )
            ).alias(f"m{j}")
            for j in range(num_hashes)
        ]
        fill = [_xx_filler(j) for j in range(num_hashes)]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    g = ex.groupBy("doc_id").agg(*aggs)
    cols = [F.col("doc_id")] + [
        F.coalesce(F.col(f"m{j}"), fill[j]).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return g.select(*cols)


def minhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    hash_fn: str = "md5",
    max_bucket: int | None = 100,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing ALL hashes within any band become a
    candidate pair. Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    Shape: signatures → explode one (band, key) row per band → ONE
    self-join on (band, key). Signatures are computed once (checkpointed:
    md5-min over shingles is the expensive part; a per-band join tree
    would recompute it 2·bands times).

    Degenerate-bucket guards (both mirrored by the DuckDB oracle):
    * docs with ZERO shingles (< k words) are excluded up front — they
      all share the identical filler signature, so one bucket would go
      quadratic on any real corpus (empty docs are exact-dedup's job);
    * ``max_bucket`` drops (band, key) buckets wider than the cap before
      pairing, bounding any bucket's fan-out at max_bucket² (a bucket
      that wide is a different pathology — boilerplate — not near-dup
      signal).

    ``signatures``: optionally pass the output of ``minhash_signatures``
    over the SAME docs (same num_hashes/k/hash_fn) to share one
    signature pass when the caller also materializes signatures — the
    pipeline's dedup-of-compute pattern. Zero-shingle docs are then
    recognized by their all-filler signature and excluded, which is
    exactly the docs-side ``size(shingles) > 0`` filter (a real shingle
    colliding with the filler hash on every one of num_hashes planes is
    cryptographically negligible)."""
    if num_hashes < 1 or bands < 1 or num_hashes % bands != 0:
        # round-5 review fix: a silent non-dividing banding either
        # quietly ignored trailing hashes (recall loss) or — with
        # rows_per_band = 0 — banded every doc into md5('') buckets
        # that the max_bucket cap then dropped entirely (zero pairs)
        raise ValueError(
            f"minhash_dup_pairs: bands must divide num_hashes "
            f"(num_hashes={num_hashes}, bands={bands})"
        )
    if signatures is None:
        docs = docs.where(F.expr(f"size({shingles_expr(text_col, k)}) > 0"))
        sig = minhash_signatures(docs, text_col, num_hashes, k, hash_fn)
    else:
        # reject signatures persisted under the other hash_fn's format
        # (md5 = hex STRING columns, xxhash64 = LONG — see the FORMAT
        # BREAK note on minhash_signatures): mixed formats would
        # silently band-collide with nothing
        h0_type = signatures.schema["h0"].dataType.simpleString()
        want = "string" if hash_fn == "md5" else "bigint"
        if h0_type != want:
            raise ValueError(
                f"signatures column h0 is {h0_type} but hash_fn="
                f"{hash_fn!r} expects {want} — signature table was "
                "built under a different hash_fn/format"
            )
        if hash_fn == "md5":
            filler = lambda j: F.md5(F.lit(f"{j}|"))  # noqa: E731
        else:
            filler = _xx_filler
        all_filler = None
        for j in range(num_hashes):
            c = F.col(f"h{j}") == filler(j)
            all_filler = c if all_filler is None else (all_filler & c)
        sig = signatures.where(~all_filler)
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)],
                )
            ).alias("key"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = banded.localCheckpoint(eager=False)
    if max_bucket is not None:
        banded = banded.withColumn(
            "_w", F.count("*").over(Window.partitionBy("band", "key"))
        ).where(F.col("_w") <= max_bucket).drop("_w")
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(right, ["band", "key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


# --------------------------------------------------------------- SimHash


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash): sign-sum of per-token hash bits per bit plane.

    ``hash_fn="xxhash64"`` (production): JVM-codegen 64-bit hash. The
    per-bit contribution of token t is +1 if bit set else −1; simhash
    bit = sign of the sum. Implemented with built-in columns — no UDF.
    ``hash_fn="md5"`` (oracle-portable, bits ≤ 62): bit b is nibble-bit
    b%4 of hex digit b//4 of md5(t) — the exact same arithmetic is
    expressible in DuckDB (strpos/shift), giving q_simhash_pairs a
    value-hash oracle twin.
    """
    # explode tokens once, hash once per token, `bits` conditional sums
    # per doc (map-side combined). The array-column form — `bits`
    # F.aggregate expressions over transform(split(...)) — re-evaluates
    # split+hash per bit plane (Catalyst doesn't CSE across lambdas).
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    if hash_fn == "xxhash64":
        ex = docs.select("doc_id", F.explode(toks).alias("t")).select(
            "doc_id", F.xxhash64("t").alias("h")
        )
        masks = [1 << b if b < 63 else -(1 << 63) for b in range(bits)]

        def bit_set(b):
            return F.col("h").bitwiseAND(F.lit(masks[b])) != 0

        bitvals = masks
    elif hash_fn == "md5":
        if bits > 62:
            raise ValueError("md5 simhash supports at most 62 bits (long)")
        ex = docs.select("doc_id", F.explode(toks).alias("t")).select(
            "doc_id", F.md5("t").alias("h")
        )

        def bit_set(b):
            nib = F.conv(F.substring("h", 1 + b // 4, 1), 16, 10).cast("int")
            return nib.bitwiseAND(F.lit(1 << (b % 4))) != 0

        bitvals = [1 << b for b in range(bits)]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    aggs = [
        F.sum(F.when(bit_set(b), 1).otherwise(-1)).alias(f"c{b}")
        for b in range(bits)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    sh = None
    for b in range(bits):
        bit = F.when(F.col(f"c{b}") > 0, F.lit(bitvals[b])).otherwise(0)
        sh = bit if sh is None else sh.bitwiseOR(bit)
    return g.select("doc_id", sh.cast("long").alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Banded simhash near-dup pairs: ALL pairs with hamming distance
    ≤ ``max_hamming``, found without an all-pairs join (Manku/Jain/
    Sarma WWW'07 block-permutation scheme, relational form).

    The ``bits``-bit fingerprint splits into ``max_hamming + 1``
    disjoint contiguous bands; by pigeonhole any pair within distance d
    agrees EXACTLY on at least one band, so an equi-join on
    (band_index, band_key) is a complete candidate generator. Candidates
    are then verified exactly with ``bit_count(a XOR b) ≤ d`` — both
    steps JVM built-ins, no UDF.

    Scale: one explode (d+1 rows/doc) + one self-equi-join on the band
    key + one distinct. Near-uniform band keys (width ≥ 8 bits in
    practice) keep bucket sizes bounded the same way MinHash-LSH bands
    do; the exact hamming verify happens join-side before the distinct,
    so false candidates never amplify. Returns (doc_a, doc_b, hamming).

    ``signatures``: pre-computed (doc_id, simhash) to reuse across
    calls (same contract as ``minhash_dup_pairs``).
    """
    if max_hamming < 0:
        raise ValueError("max_hamming must be ≥ 0")
    n_bands = max_hamming + 1
    if bits < n_bands:
        raise ValueError(f"need bits ≥ {n_bands} for max_hamming={max_hamming}")
    s = signatures if signatures is not None else simhash(
        docs, text_col, bits, hash_fn
    )
    # contiguous bands, widths as even as possible (first `rem` bands
    # get an extra bit) — disjoint + covering is all pigeonhole needs
    width, rem = divmod(bits, n_bands)
    starts, pos = [], 0
    for i in range(n_bands):
        w = width + (1 if i < rem else 0)
        starts.append((pos, w))
        pos += w
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << w) - 1 if w < 64 else -1))
                .alias("key"),
            )
            for i, (lo, w) in enumerate(starts)
        ]
    )
    ex = s.select("doc_id", "simhash", F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    l, r = ex.alias("l"), ex.alias("r")
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        l.join(r, ["band", "key"])
        .where(
            (F.col("l.doc_id") < F.col("r.doc_id"))
            & (ham <= F.lit(max_hamming))
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.8,
    block_on=None,
    df_cap: int | None = 100,
) -> DataFrame:
    """Exact word-k-gram Jaccard over candidate pairs that share ≥1
    shingle (inverted-index join). ``block_on`` optionally restricts to
    pairs agreeing on a blocking column (e.g. lang) to bound fan-out.

    ``df_cap`` drops shingles whose document frequency ≥ cap from the
    whole computation (postings AND set sizes — one consistent shingle
    universe). Without it one boilerplate shingle appearing in 1M docs
    yields 10¹² join rows; with it the postings-list fan-out is bounded
    by df_cap² per shingle. Stop-shingles carry no dedup signal anyway
    (they match everything). The DuckDB oracle mirrors the cap."""
    sh = (
        docs.select(
            "doc_id",
            *([block_on] if block_on else []),
            F.explode(F.array_distinct(F.expr(shingles_expr(text_col, k)))).alias("s"),
        )
    )
    if df_cap is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") < df_cap)
            .select("s")
        )
        sh = sh.join(rare, "s", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    l, r = sh.alias("l"), sh.alias("r")
    # round-5 review fix: block_on was accepted and documented but
    # never applied — the postings join now keys on (shingle, block),
    # so cross-block pairs are impossible and the fan-out bound the
    # blocking promises actually holds
    join_keys = ["s"] + ([block_on] if block_on else [])
    common = (
        l.join(r, join_keys)
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def prefix_jaccard_join(
    left: DataFrame, right: DataFrame | None, t_ppm: int
) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (Chaudhuri et al.
    ICDE 2006; Bayardo et al. WWW 2007 All-Pairs / PPJoin family): every
    pair of sets with Jaccard ≥ t = ``t_ppm``/10⁶, never an all-pairs join.

    ``left``/``right`` are ``(id, tokens)`` frames: any id column, then
    an array of DISTINCT tokens, one row per id. The id columns stay
    apart (their types may differ); only the tokens are unioned, to
    rank them. ``right=None`` is the self-join, pairs ``id_l < id_r``.

    Tokens are ranked rarest first (df, token tiebreak), so hot tokens
    sort LAST and each set keeps its first ``n − ⌈t·n⌉ + 1`` ranks as
    its prefix. Theorem (prefix filtering): if J(x, y) ≥ t the two
    prefixes share a token, so the equi-join on prefix ranks (with the
    length filter ``t·|x| ≤ |y| ≤ |x|/t`` IN the join) is a complete
    candidate generator, verified by ``array_intersect`` on the sorted
    rank arrays. The rank sort is vocabulary-sized (the alias-dictionary
    class). Threshold arithmetic is integer ppm (``⌈t·n⌉ = (t_ppm·n + 10⁶
    − 1) div 10⁶``): float ``ceil(0.8·5)`` is 5 in IEEE doubles and would
    silently SHORTEN the prefix; the oracles mirror the integer forms.

    Output: ``(id_l, id_r, n_l, n_r, common)`` — set sizes and
    intersection size of every pair with
    ``common·10⁶ ≥ (n_l + n_r − common)·t_ppm``."""

    def explode(side: DataFrame) -> DataFrame:
        return side.select(
            F.col(side.columns[0]).alias("_id"),
            F.explode(side.columns[1]).alias("s"),
        )

    sh_l = explode(left)
    sh_r = sh_l if right is None else explode(right)
    grams = sh_l if right is None else sh_l.select("s").unionByName(sh_r.select("s"))
    rank = (
        grams.groupBy("s")
        .agg(F.count("*").alias("_df"))
        .select(
            "s",
            F.row_number()
            .over(Window.orderBy("_df", "s"))
            .alias("_rk"),
        )
    )

    def ranked(sh: DataFrame) -> DataFrame:
        return (
            sh.join(rank, "s")
            .groupBy("_id")
            .agg(
                F.sort_array(F.collect_list("_rk")).alias("_toks"),
                F.count("*").alias("n"),
            )
        )

    toks_l = ranked(sh_l)
    toks_r = toks_l if right is None else ranked(sh_r)
    # prefix length p = n − ⌈t·n⌉ + 1 in exact ppm integer arithmetic
    plen = (
        F.col("n")
        - F.expr(f"(n * {t_ppm}L + 999999) div 1000000")
        + F.lit(1)
    ).cast("int")

    def prefix(toks: DataFrame) -> DataFrame:
        return toks.select(
            "_id", "n", F.explode(F.slice("_toks", F.lit(1), plen)).alias("_rk")
        )

    a, b = prefix(toks_l).alias("a"), prefix(toks_r).alias("b")
    on = (
        (F.col("a._rk") == F.col("b._rk"))
        & (F.col("b.n") * 1_000_000 >= F.col("a.n") * t_ppm)
        & (F.col("a.n") * 1_000_000 >= F.col("b.n") * t_ppm)
    )
    if right is None:
        on = on & (F.col("a._id") < F.col("b._id"))
    cand = (
        a.join(b, on)
        .select(F.col("a._id").alias("id_l"), F.col("b._id").alias("id_r"))
        .distinct()
    )

    def side(toks: DataFrame, tag: str) -> DataFrame:
        return toks.select(
            F.col("_id").alias(f"id_{tag}"),
            F.col("_toks").alias(f"_t{tag}"),
            F.col("n").alias(f"n_{tag}"),
        )

    common = F.size(F.array_intersect("_tl", "_tr"))
    return (
        cand.join(side(toks_l, "l"), "id_l")
        .join(side(toks_r, "r"), "id_r")
        .withColumn("common", common)
        .where(
            F.col("common") * 1_000_000
            >= (F.col("n_l") + F.col("n_r") - F.col("common")) * t_ppm
        )
        .select("id_l", "id_r", "n_l", "n_r", "common")
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """EXACT word-k-gram Jaccard similarity join — the lossless
    alternative to :func:`ngram_jaccard_pairs`'s ``df_cap``: the cap
    bounds hot-shingle fan-out by DROPPING stop-shingles from the
    universe (changes the measure); the prefix filter of
    :func:`prefix_jaccard_join` keeps the measure exact and still never
    joins on hot tokens, because the rarest-first ordering puts them
    last, outside every prefix. ``t = round(min_jaccard·10⁶)`` ppm.

    Output: ``(doc_a, doc_b, jaccard)`` with jaccard ≥ t, round(…, 6),
    identical pair set and values to ``ngram_jaccard_pairs(df_cap=
    None)``."""
    if not (0 < min_jaccard <= 1):
        raise ValueError("prefix_jaccard_pairs: min_jaccard must be in (0, 1]")
    sets = docs.select(
        "doc_id",
        F.array_distinct(F.expr(shingles_expr(text_col, k))).alias("s"),
    )
    union = F.col("n_l") + F.col("n_r") - F.col("common")
    return prefix_jaccard_join(
        sets, None, int(round(min_jaccard * 1_000_000))
    ).select(
        F.col("id_l").alias("doc_a"),
        F.col("id_r").alias("doc_b"),
        F.round(F.col("common") / union, 6).alias("jaccard"),
    )


# ------------------------------------------- embedding-cosine near-dup


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    min_cosine: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_ids: int | None = None,
    n_cells: int = 16,
    sample: int = 2000,
    seed: int = 42,
    unroll_max_cells: int = 0,
) -> DataFrame:
    """EXACT cell-blocked cosine near-dup — never an all-pairs join.

    Vectors are unit-normalized (cosine-invariant) and assigned to their
    nearest of ``n_cells`` k-means centroids. For unit vectors,
    cos(a,b) ≥ τ  ⟺  ‖â−b̂‖ ≤ d(τ) = √(2−2τ), so by the triangle
    inequality a qualifying pair's cell centroids satisfy
    ‖c_a−c_b‖ ≤ d(τ) + r_a + r_b, where r_c is cell c's coverage radius
    (max distance of an assigned vector to its centroid). Only those
    O(n_cells²)-bounded compatible cell pairs are joined — an EQUI join
    on the cell key — then the exact cosine filter verifies. Output is
    therefore identical to the brute-force all-pairs join (the DuckDB
    oracle stays all-pairs), but the plan is a broadcast of the tiny
    compatibility list + one shuffled equi-join on cell ids: no
    CartesianProduct / BroadcastNestedLoopJoin (locked by test_plans).

    Scale: tight clusters + high τ ⇒ few compatible pairs ⇒ near-linear;
    overlapping clusters or low τ degrade gracefully toward more cell
    pairs while staying an equi-join; ``n_cells`` follows the O(√N)
    rule. The assignment runs as an Arrow-batched numpy matmul by
    DEFAULT (round-4 fixed-cost shave): normalization AND centroid
    argmin happen in ONE numpy pass per batch, so the plan carries no
    lambda-heavy expressions at all — every invocation of the unrolled
    expression path paid a fresh whole-stage-codegen compile (lambda
    variable ids differ per call, so the source never hits the codegen
    cache; measured 3.6–3.8 s warm unrolled vs 2.6–2.9 s Arrow at
    sf0.1, and the gap grows with n_cells). Pass
    ``unroll_max_cells ≥ n_cells`` to force the all-JVM unrolled
    expression instead (useful where Python workers are at a premium;
    identical argmin semantics, equality-tested both ways). A lazy
    ``localCheckpoint`` of the assigned table (reclaimed by Spark's
    ContextCleaner once unreferenced) backs exactly TWO actions
    (round-3 shave, was three): a plain-projection centroid sample and
    the final query, inside which the per-cell radii aggregate runs as
    a broadcast subtree joined to the literal centroid-distance table —
    no separate radii collect. At cluster scale persist the assigned
    table to a stage table instead — same shape.
    """
    import numpy as np

    e0 = embeddings.select(id_col, vec_col)
    if max_ids is not None:
        e0 = e0.where(F.col(id_col) < max_ids)

    # centroid training sample: raw vectors, trivial limit-scan plan;
    # normalize + drop zeros in numpy (mirrors the _nrm > 0 filter)
    from .similarity import _lloyd

    raw = [r[0] for r in e0.select(vec_col).limit(sample).collect()]
    raw = [v for v in raw if v is not None]
    if raw:  # drop ragged strays — np.array would raise on them
        # majority length, not the first row's (round-5 review fix: one
        # corrupt short vector sampled first would have set the corpus
        # dim to ITS length and silently dropped every real vector)
        from collections import Counter

        d0 = Counter(len(v) for v in raw).most_common(1)[0][0]
        raw = [v for v in raw if len(v) == d0]
    x = np.array(raw, dtype=np.float64)
    spark = embeddings.sparkSession
    if x.size:
        nrm = np.sqrt((x * x).sum(1))
        x = x[nrm > 0] / nrm[nrm > 0, None]
    if not x.size:
        # empty-corpus schema must match the normal path's id type
        # (round-5 review fix: hardcoded longs broke string-id callers
        # only on the empty edge case)
        idt = e0.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"id_a {idt}, id_b {idt}, cosine double"
        )
    cents = _lloyd(x, n_cells, seed)

    if len(cents) <= unroll_max_cells:
        # opt-in all-JVM path: norms + unit vectors as expressions, then
        # argmin centroid via array_min over (rank, cell) structs; for
        # unit vectors true dist² = rank + 1 (rank = ‖c‖² − 2·x̂·c).
        # Norms precomputed per ROW before any join — computing them in
        # the pair projection costs O(pairs) array passes instead of O(N)
        from .similarity import _dot

        e0 = e0.withColumn(
            "_nrm",
            F.sqrt(
                F.aggregate(
                    F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
        ).where(F.col("_nrm") > 0)  # zero vectors have undefined cosine
        # (same as the brute-force NULL-cosine drop)
        e0 = e0.withColumn(
            "_unit", F.transform(F.col(vec_col), lambda x: x / F.col("_nrm"))
        )
        cand_structs = [
            F.struct(
                (F.lit(float(np.dot(c, c))) - 2 * _dot(F.col("_unit"), c)).alias("d"),
                F.lit(ci).alias("c"),
            )
            for ci, c in enumerate(cents)
        ]
        m = F.array_min(F.array(*cand_structs))
        e = e0.withColumn("_m", m).select(
            id_col,
            vec_col,
            "_nrm",
            F.col("_m")["c"].alias("_cell"),
            F.sqrt(F.greatest(F.col("_m")["d"] + 1.0, F.lit(0.0))).alias("_cdist"),
        )
    else:
        # Arrow DEFAULT: normalization + centroid argmin in ONE numpy
        # pass per batch — O(1) plan size in n_cells AND zero lambda
        # expressions anywhere in the assignment subtree (each lambda
        # expression recompiles per invocation; this path's fixed cost
        # is a reusable python worker). Zero-norm vectors are dropped
        # here, mirroring the expression path's `_nrm > 0` filter.
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        C = np.asarray(cents, dtype=np.float64)
        cc = (C * C).sum(1)
        schema = StructType(
            [
                e0.schema[id_col],
                e0.schema[vec_col],
                StructField("_nrm", DoubleType()),
                StructField("_cell", IntegerType()),
                StructField("_cdist", DoubleType()),
            ]
        )

        dim = C.shape[1]

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                # NULL / wrong-length vectors have undefined cosine and
                # must drop HERE — np.array on a ragged tolist() raises
                # (the expression path drops them via its NULL _nrm)
                good = np.fromiter(
                    (v is not None and len(v) == dim for v in pdf[vec_col]),
                    dtype=bool,
                    count=len(pdf),
                )
                if not good.all():
                    pdf = pdf[good]
                    if not len(pdf):
                        continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                nrm = np.sqrt((v * v).sum(1))
                ok = nrm > 0
                if not ok.any():
                    continue
                u = v[ok] / nrm[ok, None]
                rank = cc[None, :] - 2.0 * (u @ C.T)
                cell = rank.argmin(1)
                d = np.sqrt(
                    np.maximum(rank[np.arange(len(cell)), cell] + 1.0, 0.0)
                )
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values[ok],
                        vec_col: pdf[vec_col].values[ok],
                        "_nrm": nrm[ok],
                        "_cell": cell.astype("int32"),
                        "_cdist": d,
                    }
                )

        e = e0.mapInPandas(run, schema)
    e = e.localCheckpoint(eager=False)
    # compatible cell pairs computed DISTRIBUTED inside the final job:
    # the n_cells² centroid-distance table is a literal, the per-cell
    # coverage radii are a tiny aggregate over the checkpointed table,
    # and the triangle-inequality cut joins the two — no driver collect.
    # Cells with no assigned vectors drop out via the inner join (they
    # can't contribute pairs).
    d_thresh = float(np.sqrt(max(0.0, 2.0 - 2.0 * min_cosine))) + 1e-9
    cdist = spark.createDataFrame(
        [
            (i, j, float(np.linalg.norm(cents[i] - cents[j])))
            for i in range(len(cents))
            for j in range(len(cents))
        ],
        "cell_a int, cell_b int, cdist double",
    )
    rad = e.groupBy("_cell").agg(F.max("_cdist").alias("_r"))
    pairs = (
        cdist.join(
            rad.select(F.col("_cell").alias("cell_a"), F.col("_r").alias("_ra")),
            "cell_a",
        )
        .join(
            rad.select(F.col("_cell").alias("cell_b"), F.col("_r").alias("_rb")),
            "cell_b",
        )
        .where(F.col("cdist") <= F.lit(d_thresh) + F.col("_ra") + F.col("_rb"))
        .select("cell_a", "cell_b")
    )
    l, r = e.alias("l"), e.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        l.join(F.broadcast(pairs), F.col("l._cell") == F.col("cell_a"))
        .join(
            r,
            (F.col("cell_b") == F.col("r._cell"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(dot / (F.col("l._nrm") * F.col("r._nrm")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


# ------------------------------------------- semantic dedup (SemDeDup)


def semantic_dedup(
    embeddings: DataFrame,
    min_cosine: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **near_dup_kwargs,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — cluster embeddings, drop all but one doc per
    semantic-duplicate group).

    Composition of two already-verified primitives:

    1. ``embedding_near_dup_pairs`` — EXACT cell-blocked cosine pairs at
       ``min_cosine`` (identical to the all-pairs join, never a
       cartesian);
    2. ``canonicalize.connected_components`` — hash-to-min label
       propagation over the pair graph, so transitive near-duplicates
       (a~b, b~c but a≁c) land in ONE group, matching SemDeDup's
       cluster-then-keep-one semantics rather than greedy pairwise
       removal.

    Output: (id_col, component, keep) for EVERY input id with a non-zero
    vector (zero vectors have undefined cosine and are passed through as
    their own singleton groups, keep=true). ``component`` is the min id
    in the duplicate group; the representative kept is exactly the min
    id (deterministic — no sampling, reruns agree), so
    ``keep ⟺ id == component``.

    Scale: the pair graph is sparse at high τ (near-dup groups are tiny
    islands), so CC converges in ≤ a few rounds on co-partitioned
    joins; the dominant cost is the blocked pair generation, already
    bounded. The left-anti-free design (one left join + coalesce) keeps
    singleton handling shuffle-cheap.
    """
    pairs = embedding_near_dup_pairs(
        embeddings, min_cosine, id_col=id_col, vec_col=vec_col,
        **near_dup_kwargs,
    )
    ids = embeddings.select(id_col).distinct()
    return _keep_min_representative(ids, pairs, id_col)


def _keep_min_representative(
    ids: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Shared cluster-then-keep-one tail of the fuzzy/semantic dedup
    family: duplicate-pair graph → connected components → keep exactly
    the min-id representative of each group; ids absent from the pair
    graph pass through as singletons (keep=true). Deterministic — no
    sampling, reruns agree."""
    from .canonicalize import connected_components

    # materialize ONCE: connected_components symmetrizes with a
    # self-union, which would execute the (expensive) pair-generation
    # subtree twice; at cluster scale this is a stage-table write,
    # locally a localCheckpoint (measured 2× on the sf0.1 probe)
    pairs = pairs.select("id_a", "id_b").localCheckpoint()
    # size the CC co-partition width to the PAIR GRAPH, not the corpus:
    # the dup graph is orders smaller than the input (tiny islands), so
    # session-default-wide rounds are pure scheduling overhead — 588
    # edges across 16-task stages measured ~4× slower than 1-task
    # rounds. The count is a bounded action on the materialized
    # checkpoint; ~1M edges/partition keeps shuffle blocks ≲50 MB at
    # cluster scale, and the session default stays the ceiling.
    n_pairs = pairs.count()
    default_p = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cc_p = min(default_p, n_pairs // 1_000_000 + 1)
    comp = connected_components(
        pairs, "id_a", "id_b", num_partitions=cc_p, num_edges=n_pairs
    )
    labeled = (
        ids.join(comp, ids[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    return labeled.withColumn("keep", F.col(id_col) == F.col("component"))


def resolve_bands(
    num_hashes: int,
    bands: int | None = None,
    threshold: float | None = None,
) -> int:
    """Banding resolution of :func:`fuzzy_dedup`: an explicit
    ``bands`` always wins; otherwise a ``threshold`` picks the
    planner's banding
    (:func:`lsh_plan` — the divisor whose s-curve inflection sits
    closest to the target similarity); with neither, the legacy
    default of 4 bands — validated for divisibility exactly like an
    explicit ``bands=4`` (a silent 4 over e.g. ``num_hashes=6`` would
    band only h0..h3 and quietly degrade recall)."""
    if bands is None and threshold is None:
        bands = 4
    if bands is not None:
        if num_hashes % bands != 0:
            raise ValueError(
                "resolve_bands: bands must divide num_hashes "
                f"(bands={bands}, num_hashes={num_hashes}); pass bands= "
                "explicitly or threshold= for planner-chosen banding"
            )
        return bands
    return lsh_plan(threshold, num_hashes)["bands"]


def fuzzy_dedup(
    docs: DataFrame,
    text_col: str = "text",
    doc_id: str = "doc_id",
    num_hashes: int = 8,
    bands: int | None = None,
    k: int = 3,
    threshold: float | None = None,
    hash_fn: str = "xxhash64",
    signatures: DataFrame | None = None,
    pairs: DataFrame | None = None,
    **pair_kwargs,
) -> DataFrame:
    """End-to-end MinHash fuzzy deduplication with keep/drop decisions —
    the full document-level near-dup recipe of public LLM-corpus
    pipelines (RefinedWeb §3.3 / Dolma / RedPajama-v2): LSH-banded
    candidate pairs → connected components over the duplicate graph →
    keep ONE representative (min doc id) per duplicate cluster.

    Clustering (rather than greedy pairwise removal) is what makes the
    result order-independent: for a chain a~b, b~c with a≁c the whole
    chain is one group and exactly one doc survives, matching the
    published recipes. Output: (doc_id, component, keep) for EVERY
    input doc — zero-shingle docs and docs in no candidate pair are
    singletons with keep=true.

    Scale: inherits ``minhash_dup_pairs``'s guards (banded single
    self-join, zero-shingle exclusion, bucket-width cap) and
    ``connected_components``'s co-partitioned hash-to-min rounds; the
    dup graph is tiny islands at web scale, so CC converges in a few
    cheap rounds. Pass ``signatures`` to reuse an already-computed
    signature table, or ``pairs`` (a ``minhash_dup_pairs`` result over
    the SAME docs) to reuse the whole candidate subtree — the
    dedup-of-compute pattern when a reporting query also materializes
    signatures/pairs.

    Banding: pass ``threshold=`` (target Jaccard similarity) to let
    :func:`lsh_plan` choose the banding whose s-curve inflection sits
    at the target — the principled default; an explicit ``bands=``
    overrides the planner, and with neither the legacy 4-band split is
    used (see :func:`resolve_bands`).
    """
    bands = resolve_bands(num_hashes, bands, threshold)
    if pairs is None:
        # thread a custom id column through to the minhash stages (they
        # key on 'doc_id' by convention): project to exactly (doc_id,
        # text) so a pre-existing unrelated 'doc_id' column on the input
        # can never be picked up silently (round-3 ADVICE — the old
        # rename-only-the-ids-side behavior paired on the WRONG column
        # and returned keep=true for everything)
        work = docs.select(
            F.col(doc_id).alias("doc_id"), F.col(text_col).alias(text_col)
        ) if doc_id != "doc_id" else docs
        pairs = minhash_dup_pairs(
            work, text_col=text_col, num_hashes=num_hashes,
            bands=bands, k=k, hash_fn=hash_fn, signatures=signatures,
            **pair_kwargs,
        )
    pairs = pairs.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    ids = docs.select(doc_id).distinct()
    return _keep_min_representative(ids, pairs, doc_id)


# ----------------------------------- cross-doc duplicated spans (Lee+22)


def dup_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document coverage by k-token spans that also occur in at
    least ``min_docs - 1`` OTHER documents — the substring-dedup signal
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed relationally instead of via a suffix
    array: rolling gram hashes -> gram document frequency -> semi-join
    back -> per-doc interval union.

    Returns (doc_id, n_tokens, n_dup_tokens, dup_span_frac).

    Scale shape (this is NOT a pair generator):
    * grams = one narrow explode, ~n_tokens rows per doc;
    * gram DF = map-side-combined groupBy on the 16-byte hash — uniform
      keys, no skew. Hot boilerplate grams cost nothing extra: each
      occurrence row semi-joins exactly once, so there is no postings
      fan-out to cap (unlike Jaccard pair generation);
    * coverage = ONE window shuffle keyed by doc_id. Interval union via
      running max of span ends (no per-row Python, no collect).

    Complements the Gopher repetition stats (within-doc duplication) —
    this measures cross-document duplication. md5 grams keep the DuckDB
    oracle value-exact; the hash only buckets equal strings, so any
    collision-free-enough hash preserves semantics.
    """
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.col(text_col)), r"\s+").alias("w"),
        F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
        ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        .alias("n_tokens"),
    )
    # one gram struct per window start; token array bound once as a
    # lambda var (no CSE inside lambdas — see shingles_expr)
    gram_expr = (
        f"flatten(transform(array(w), toks -> "
        f"case when size(toks) >= {k} then "
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> struct(i as pos, md5(concat_ws(' ', slice(toks, i + 1, {k}))) as gh)) "
        f"else array() end))"
    )
    grams = toks.select(
        "doc_id", F.explode(F.expr(gram_expr)).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))

    dup_grams = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    dup_pos = grams.join(dup_grams, "gh", "left_semi")

    # interval union of [pos, pos+k) per doc: a position contributes
    # only the part past the furthest end seen so far
    prev_end = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    covered = (
        dup_pos.withColumn(
            "prev_max_end", F.max(F.col("pos") + k).over(prev_end)
        )
        .withColumn(
            "c",
            F.greatest(
                F.lit(0),
                F.col("pos") + k
                - F.greatest(
                    F.col("pos"),
                    F.coalesce(F.col("prev_max_end"), F.col("pos")),
                ),
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_dup_tokens"))
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                    / F.col("n_tokens")
                ),
                6,
            ).alias("dup_span_frac"),
        )
    )


def dup_span_remove(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The REWRITER half of Lee et al. 2022 substring dedup (round 4 —
    ``dup_span_stats`` is the signal, this removes the text): every
    k-token span occurring in ≥ ``min_docs`` distinct documents keeps
    exactly its globally FIRST occurrence (min ``(doc_id, pos)``) and
    every other occurrence's tokens are cut from the document.

    Returns ``(doc_id, clean_text, n_tokens, n_removed_tokens)`` for
    every input doc. ``clean_text`` is whitespace-normalized (surviving
    tokens joined by single spaces) — the operator tokenizes on
    whitespace, so it cannot promise byte fidelity around cuts anyway.
    Deterministic: the keeper is an argmin, not a sample.

    Scale shape (same discipline as ``dup_span_stats`` — never a pair
    generator, never a suffix array):

    * grams → gram DF → semi-join: identical bounded shape as the
      signal (hot grams semi-join once per occurrence, no fan-out);
    * the global keeper per gram is ONE ``min(struct(doc_id, pos))``
      aggregate on the already-grouped hash — no window, no sort;
    * token-level removal avoids exploding k rows per occurrence: token
      rows and removal-occurrence rows ride ONE union, and a single
      per-doc running ``max(pos + k)`` window (occurrences ordered
      before tokens at equal pos) decides every token in one pass —
      interval union for free, O(tokens + occurrences) rows;
    * rebuild = ``array_sort(collect_list(struct(pos, w)))`` per doc —
      per-DOC state only, bounded by document length like every other
      per-doc aggregate in the engine.
    """
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("w")
    ).select(
        "doc_id",
        F.when(F.col("w")[0] == "", F.array().cast("array<string>"))
        .otherwise(F.col("w"))
        .alias("w"),
    )
    gram_expr = (
        f"flatten(transform(array(w), toks -> "
        f"case when size(toks) >= {k} then "
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> struct(i as pos, md5(concat_ws(' ', slice(toks, i + 1, {k}))) as gh)) "
        f"else array() end))"
    )
    grams = toks.select(
        "doc_id", F.explode(F.expr(gram_expr)).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    # duplicated grams AND their global keeper in ONE aggregate pass
    dup_first = (
        grams.groupBy("gh")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .where(F.col("n_docs") >= min_docs)
        .select("gh", "first")
    )
    removal = (
        grams.join(dup_first, "gh")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos", (F.col("pos") + k).alias("end"))
    )
    token_rows = toks.select(
        "doc_id", F.posexplode("w").alias("pos", "tok")
    ).select("doc_id", "pos", F.lit(1).alias("kind"), "tok",
             F.lit(None).cast("int").alias("end"))
    occ_rows = removal.select(
        "doc_id", "pos", F.lit(0).alias("kind"),
        F.lit(None).cast("string").alias("tok"), "end",
    )
    # one per-doc pass: occurrences (kind 0) sort before tokens (kind 1)
    # at equal pos, so the running interval end covers its own start
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = (
        token_rows.unionByName(occ_rows)
        .withColumn("run_end", F.max("end").over(w_run))
        .where(F.col("kind") == 1)
        .withColumn(
            "removed",
            F.coalesce(F.col("run_end") > F.col("pos"), F.lit(False)),
        )
    )
    rebuilt = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("removed"), F.struct("pos", "tok")
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id").join(rebuilt, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0))
            .alias("n_removed_tokens"),
        )
    )


# --------------------------------------------- corpus-level line dedup


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    min_chars: int = 5,
    keep_first: bool = True,
) -> DataFrame:
    """CCNet / RefinedWeb corpus-level LINE dedup (Wenzek 2020 §3.1,
    Penedo 2023 §4.2): a line whose trimmed form occurs ≥ ``min_count``
    times ACROSS THE CORPUS is boilerplate (nav bars, cookie banners,
    like-button captions) and is cut from every document —
    ``keep_first=True`` retains the single globally-first occurrence
    (min ``(doc_id, pos)`` — an argmin, not a sample, so the output is
    deterministic and order-independent), ``keep_first=False`` cuts all
    of them (CCNet's choice).

    Lines shorter than ``min_chars`` after trimming (blank lines,
    stray punctuation) are ALWAYS kept and never counted — they carry
    no boilerplate signal and would otherwise make every paragraph
    break in the corpus "duplicated".

    Returns ``(doc_id, clean_text, n_lines, n_removed_lines)`` for
    every input doc; ``clean_text`` re-joins surviving lines with
    ``\\n`` in original order (byte-faithful except the cut lines —
    unlike ``dup_span_remove`` this operator never re-tokenizes).

    Scale shape: two shuffles total, no pair generation —

    * line occurrences group on ``md5(trim(line))`` (bounded key width;
      the count and the global keeper ride ONE aggregate:
      ``count(*)`` + ``min(struct(doc_id, pos))``);
    * the duplicate-line table joins back by line hash (equi-join; the
      hot-line side of the join is exactly the boilerplate set, which
      is small relative to the corpus by construction);
    * rebuild = per-doc ``array_sort(collect_list(...))`` — per-DOC
      state only, bounded by document length.

    Complements ``dup_span_remove`` (Lee+22 k-token spans, re-tokenized)
    and ``repetition_stats`` (WITHIN-doc dup-line fractions, Gopher):
    this is the cross-doc, line-granularity member of the family.
    """
    if min_count < 2:
        raise ValueError("min_count must be ≥ 2")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    elig = F.length(F.trim(F.col("line"))) >= min_chars
    lk = lines.withColumn(
        "lh", F.when(elig, F.md5(F.trim(F.col("line"))))
    )
    dup = (
        lk.where(F.col("lh").isNotNull())
        .groupBy("lh")
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .where(F.col("_n") >= min_count)
    )
    keep_one = (
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("pos") == F.col("_first.pos"))
        if keep_first
        else F.lit(False)
    )
    marked = lk.join(dup, "lh", "left").withColumn(
        "removed", F.col("_n").isNotNull() & ~keep_one
    )
    cleaned = marked.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("removed"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_lines"),
    )
    # NULL text explodes to zero line rows and would vanish from the
    # groupBy — join back to the input doc set so the "row for every
    # input doc" contract holds (clean_text stays NULL, 0 lines).
    return docs.select("doc_id").join(cleaned, "doc_id", "left").select(
        "doc_id",
        "clean_text",
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(F.col("n_removed_lines"), F.lit(0)).alias(
            "n_removed_lines"
        ),
    )


def lsh_plan(
    threshold: float,
    num_hashes: int,
    bands: int | None = None,
) -> dict:
    """MinHash-LSH parameter planner (the banding s-curve of Leskovec/
    Rajaraman/Ullman MMDS §3.4): for signatures of ``num_hashes``
    split into b bands of r rows, a pair with Jaccard s collides with
    probability ``1 − (1 − s^r)^b``. Given a target ``threshold``,
    pick the divisor banding whose s-curve inflection ``(1/b)^(1/r)``
    sits closest to it (or evaluate an explicit ``bands``), and
    report the collision probabilities at and around the threshold —
    the numbers that justify a (num_hashes, bands) choice in a dedup
    config instead of folklore defaults.

    Pure closed-form driver-side math (no Spark); returns
    ``{bands, rows, inflection, p_at_threshold, p_below (0.8·t),
    p_above (1.2·t capped at 1)}``."""
    if not (0 < threshold < 1):
        raise ValueError("lsh_plan: threshold must be in (0, 1)")
    if num_hashes < 1:
        raise ValueError("lsh_plan: num_hashes must be >= 1")

    def curve(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    if bands is None:
        cands = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
        bands = min(
            cands,
            key=lambda b: abs(
                (1.0 / b) ** (b / num_hashes) - threshold
            ),
        )
    if num_hashes % bands != 0:
        raise ValueError("lsh_plan: bands must divide num_hashes")
    r = num_hashes // bands
    lo = 0.8 * threshold
    hi = min(1.0, 1.2 * threshold)
    return {
        "bands": bands,
        "rows": r,
        "inflection": (1.0 / bands) ** (1.0 / r),
        "p_at_threshold": curve(threshold, bands, r),
        "p_below": curve(lo, bands, r),
        "p_above": curve(hi, bands, r),
    }
