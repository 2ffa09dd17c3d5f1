"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data dedup at 100 TB is shuffle-dominated; every operator here is
designed around ONE key insight: never materialize all-pairs.  Pairs only
exist after a *blocking* step (LSH band, simhash prefix, or explicit block
key) whose buckets are small.

Hash families: the ORACLE-portable operators (exact dedup,
``minhash_signature_md5``/``dedup_minhash_md5``, Jaccard shingles) derive
every pseudo-random hash from md5 (low 60 bits via
``conv(substr(md5(x),18,15),16,10)`` — same value in Spark and
DuckDB/ANSI SQL, no seed state).  The FAST variants
(``minhash_near_duplicates``, ``simhash64``) use Spark's native
``xxhash64`` instead — cheaper per token but Spark-specific, which is why
those operators are rows-only in the driver's correctness gate while the
md5 family carries the value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# -- shared helpers ------------------------------------------------------


def _norm(col) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def md5_64(col) -> F.Column:
    """Low-60-bit integer hash of a string column (portable SQL)."""
    return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("bigint")


def norm_words(col) -> F.Column:
    """Normalized whitespace-token array — materialize this as a REAL
    column (own projection) before calling :func:`word_shingles` on it."""
    return F.split(_norm(col), " ")


def word_shingles(words_col, n: int = 3) -> F.Column:
    """Word n-gram shingles over a PRE-SPLIT words column (distinct set).

    ``words_col`` must be a materialized array column (a plain column
    reference), not an inline ``split(...)`` expression: higher-order
    lambdas re-evaluate captured expression trees PER ELEMENT, so an
    inlined split+regexp turns shingling O(tokens²) — measured 10x
    slower on real documents.  Callers project :func:`norm_words` in a
    separate select first (CollapseProject keeps non-cheap multi-
    referenced aliases un-inlined, so the two-step form stays two-step).
    """
    k = F.size(words_col) - F.lit(n - 1)
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words_col, i, n)),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(k >= 1, sh).otherwise(empty))


def prefix_filter_pairs(
    tokens: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "tok",
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join by PREFIX FILTERING (AllPairs /
    PPJoin, Bayardo et al. '07): every pair with Jaccard ≥ t_num/t_den
    — no hashing, no probabilistic recall — while never materializing
    all pairs.

    The lemma: order each set's tokens by GLOBAL rarity (document
    frequency asc, token asc — one shared total order); two sets with
    Jaccard ≥ t must share a token within each other's first
    ``|s| − ⌈t·|s|⌉ + 1`` tokens, so candidate generation is an
    equi-join on PREFIX tokens only — rare tokens first means tiny
    candidate lists exactly where sets are large.  Verification
    computes the exact intersection for candidates only, and the
    threshold test is integer cross-multiplication
    (``t_den·∩ ≥ t_num·(|a|+|b|−∩)``) — no float ever decides
    membership, so any engine replaying the same order agrees row-for-
    row.

    ``tokens`` is the DISTINCT (id, token) exploded frame.  Shape: one
    df rollup, one per-set rank window (keyed by id), one prefix
    equi-join, one candidate-bounded verify join — at 100 TB the
    candidate volume tracks true near-dup density, never |docs|².

    Output: (id_a, id_b, size_a, size_b, intersection, jaccard).
    """
    toks = tokens.select(
        F.col(id_col).alias("_id"), F.col(tok_col).alias("_tok")
    )
    toks = toks.localCheckpoint(eager=False)
    freq = toks.groupBy("_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    sz = toks.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_sz")
    )
    wpos = Window.partitionBy("_id").orderBy("_df", "_tok")
    ordered = (
        toks.join(freq, "_tok")
        .select("_id", "_tok", F.row_number().over(wpos).alias("_pos"))
    )
    pref = ordered.join(sz, "_id").filter(
        F.col("_pos")
        <= F.col("_sz")
        - F.expr(f"({t_num} * _sz + {t_den} - 1) div {t_den}")
        + 1
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("_da"), F.col("b._id").alias("_db")
        )
        .distinct()
    )
    # exact verify via ONE array_intersect row per candidate pair
    # instead of exploding |cand| × |tokens(a)| rows through a shuffle
    # (the doc_shingle_containment idiom — its explode form measured
    # 210 s at sf1; r13 A/B here: dedup_lsh_recall_eval 8.3 → 6.1 s,
    # dedup_prefix_filter_join 4.1 → 3.7 s at sf0.1, value-equal).
    # collect_list order is nondeterministic but array_intersect is
    # set-semantics over the already-distinct token lists.
    sets = toks.groupBy("_id").agg(F.collect_list("_tok").alias("_set"))
    inter = (
        cand.join(
            sets.select(
                F.col("_id").alias("_da"), F.col("_set").alias("_sa")
            ),
            "_da",
        )
        .join(
            sets.select(
                F.col("_id").alias("_db"), F.col("_set").alias("_sb")
            ),
            "_db",
        )
        .select(
            "_da",
            "_db",
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("bigint")
            .alias("_i"),
        )
    )
    sa = sz.select(F.col("_id").alias("_da"), F.col("_sz").alias("size_a"))
    sb = sz.select(F.col("_id").alias("_db"), F.col("_sz").alias("size_b"))
    return (
        inter.join(sa, "_da")
        .join(sb, "_db")
        .filter(
            F.lit(t_den) * F.col("_i")
            >= F.lit(t_num)
            * (F.col("size_a") + F.col("size_b") - F.col("_i"))
        )
        .select(
            F.col("_da").alias("id_a"),
            F.col("_db").alias("id_b"),
            "size_a",
            "size_b",
            F.col("_i").alias("intersection"),
            F.round(
                F.col("_i").cast("double")
                / (
                    F.col("size_a") + F.col("size_b") - F.col("_i")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# -- exact dedup (hash-groupBy) ------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    Output: fingerprint, dup_count, keep_id (min id), member ids.  The
    groupBy on the md5 fingerprint is the scalable primitive: the shuffle
    key is 16 bytes regardless of document size.
    """
    fp = F.md5(_norm(F.col(text_col))).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup: one row per distinct normalized text."""
    w_fp = F.md5(_norm(F.col(text_col)))
    keep = (
        df.select(F.col(id_col), w_fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# -- span-level (line/paragraph) dedup ------------------------------------


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
    scope: str = "corpus",
) -> DataFrame:
    """Sub-document dedup: remove repeated word-spans across the corpus,
    keeping one canonical occurrence (C4/RefinedWeb-style boilerplate
    removal, done on fixed word windows because the synthetic corpus has
    no sentence/newline boundaries; with real text, swap the spanizer for
    a sentence splitter — the dedup core is boundary-agnostic).

    Each document is cut into non-overlapping ``span_words``-word spans
    (the trailing remainder is its own span).  A span occurrence survives
    iff its text is globally unique OR it is the canonical occurrence —
    the one with the smallest ``(doc_id, pos)``, encoded as
    ``doc_id * 2^20 + pos`` so an independent SQL engine reproduces the
    tie-break exactly (requires pos < 2^20 ≈ a 10M-word document at the
    default span size; raise the shift for longer docs).

    Output: (id, n_spans, n_spans_kept, text_deduped) — the document
    re-assembled from its surviving spans in order.

    ``scope="corpus"`` dedups across the whole corpus;
    ``scope="document"`` only removes a span's repeats WITHIN the same
    document (Gopher-style intra-doc repetition removal — the transform
    twin of ``text.repetition_stats``, which only measures).  The
    per-document scope simply adds the doc id to the grouping key, so
    its shuffles never mix documents and the first occurrence in
    document order is always the one kept.

    Scale shape: explode → groupBy(16-byte span hash) → join back on the
    hash → groupBy(doc).  Both shuffles are keyed on narrow columns; the
    span text rides the shuffle only once (for reassembly); no window
    over a global sort, no driver state.  Hot spans (a boilerplate line
    repeated 10^9 times) hash-partition cleanly — the aggregate per hash
    is two longs, and AQE's skew split handles the join-back fan-out.
    """
    assert scope in ("corpus", "document"), scope
    shift = F.lit(1 << 20)
    words = df.select(
        F.col(id_col).alias("_doc"), norm_words(F.col(text_col)).alias("_w")
    )
    n_spans = F.ceil(F.size("_w") / F.lit(span_words)).cast("int")
    if scope == "document":
        # Per-document dedup needs NO shuffle at all: a span survives iff
        # it is the FIRST occurrence of its text within the row's own span
        # array, which is pure array algebra (array_position = index of
        # first match).  The grouped path below pays explode + two keyed
        # shuffles for the same answer — measured 12.4 s → 2.9 s at sf1.
        # Caveat: array_position inside the per-span lambda is
        # O(spans²) per document — the right trade for web-scale docs
        # (10⁴ words ≈ 10³ spans); for pathological book-length rows
        # chunk first (operators/corpus.py) or use scope="corpus" on a
        # doc-salted key.
        spans_expr = F.transform(
            F.sequence(F.lit(0), F.greatest(n_spans, F.lit(1)) - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("_w"), i * span_words + 1, span_words)
            ),
        )
        # own projection: HOF lambdas re-evaluate inlined expression
        # trees per element (see word_shingles), so _spans must be a
        # materialized column before the keep-mask lambda touches it
        sp = words.select("_doc", spans_expr.alias("_spans"))
        first_occ = lambda s, i: (  # noqa: E731
            F.array_position(F.col("_spans"), s) == i + F.lit(1)
        )
        return sp.select(
            F.col("_doc").alias(id_col),
            F.size("_spans").cast("long").alias("n_spans"),
            F.size(F.filter("_spans", first_occ)).cast("long").alias(
                "n_spans_kept"
            ),
            F.concat_ws(" ", F.filter("_spans", first_occ)).alias(
                "text_deduped"
            ),
        )
    occ = (
        words.select(
            "_doc",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_spans, F.lit(1)) - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_w"), i * span_words + 1, span_words)
                    ),
                )
            ).alias("_pos", "_span"),
        )
        .withColumn("_h", md5_64(F.col("_span")))
        .withColumn("_ck", F.col("_doc") * shift + F.col("_pos"))
    )
    group_key = ["_h"] if scope == "corpus" else ["_doc", "_h"]
    agg = occ.groupBy(*group_key).agg(
        F.count("*").alias("_n"), F.min("_ck").alias("_canon")
    )
    keep = (F.col("_n") == 1) | (F.col("_ck") == F.col("_canon"))
    return (
        occ.join(agg, group_key)
        .withColumn("_keep", keep)
        .groupBy("_doc")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("_keep").cast("long")).alias("n_spans_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_pos", "_span"))
                        )
                    ),
                    lambda s: s["_span"],
                ),
            ).alias("text_deduped"),
        )
        .select(
            F.col("_doc").alias(id_col),
            "n_spans",
            "n_spans_kept",
            "text_deduped",
        )
    )


# -- MinHash + LSH --------------------------------------------------------


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified by estimated
    Jaccard (signature agreement rate).

    Plan shape (the 100 TB shape):
      1. narrow map: signature per doc
      2. explode to ``bands`` rows/doc, band hash = md5(band values)
      3. self-join per (band_id, band_hash) bucket — ONLY bucket-mates pair
      4. pair-level verify: fraction of agreeing signature positions

    ``portable=True`` swaps the per-lane ``xxhash64`` family for
    Kirsch-Mitzenmacher double hashing over the md5-low-60-bit
    primitive: lane i = h1(s) + i·h2(s) with h1 = md5_64(s) and
    h2 = md5_64('kh2:'||s) mod 2^58 (bounds the lane value under
    2^60 + lanes·2^58, far inside bigint) — TWO md5s per shingle
    total, every lane pure integer arithmetic, replayable on any
    engine.  The xxhash64 family stays the default for callers that
    don't need an engine-independent oracle.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    # signature via explode + groupBy-min, NOT the array-lambda form:
    # higher-order-function lambdas run interpreted (outside whole-stage
    # codegen), while explode + hash-aggregate is fully codegen'd with
    # map-side partial mins — ~5x faster at equal semantics.
    exploded = (
        df.select(
            F.col(id_col).alias("_id"),
            norm_words(F.col(text_col)).alias("_words"),
        )
        .select(
            "_id",
            F.explode(word_shingles(F.col("_words"), shingle_n)).alias("_s"),
        )
    )
    if portable:
        h1 = md5_64(F.col("_s"))
        h2 = F.pmod(
            md5_64(F.concat(F.lit("kh2:"), F.col("_s"))),
            F.lit(1 << 58),
        )
        lanes = [
            F.min(h1 + F.lit(i) * h2).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        lanes = [
            F.min(F.xxhash64(F.lit(i), F.col("_s"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    sigs = exploded.groupBy("_id").agg(*lanes).select(
        "_id", F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("_sig")
    )
    # signatures are tiny (num_hashes longs/doc) but the band self-join can
    # explode quadratically inside hot buckets — keep band rows NARROW
    # (id + band key only) and attach signatures back by id AFTER the pair
    # dedup, so the wide arrays never ride through the quadratic shuffle.
    sigs = sigs.persist()

    banded = sigs.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("_id", "band.band_id", "band.band_hash")

    left = banded.select(
        "band_id", "band_hash", F.col("_id").alias("id_a")
    )
    right = banded.select(
        "band_id", "band_hash", F.col("_id").alias("id_b")
    )
    pairs = (
        left.join(right, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        pairs.join(
            sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a")),
            on="id_a",
        ).join(
            sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b")),
            on="id_b",
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    )
    est = (agree / F.lit(float(num_hashes))).cast("double")
    return (
        pairs.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# -- SimHash ---------------------------------------------------------------


def _sql(col: str) -> str:
    """SQL text of a column reference.  Column NAMES only: simhash builds
    a SQL expr string, and extracting text from a Column object would need
    the private ``_jc`` accessor (absent under Spark Connect)."""
    if not isinstance(col, str):
        raise TypeError(
            "simhash64 takes a column NAME (str); Column objects are not "
            "supported because their SQL text is not accessible through "
            "any public API (and not under Spark Connect at all)"
        )
    return col


def simhash64(col: str, n_bits: int = 32, portable: bool = False) -> F.Column:
    """SimHash over whitespace tokens (default 32 bits to keep the
    bit-expansion cheap; 64 works identically).  ``col`` is a column name.

    Per token: h = xxhash64(token) (Spark-native, NOT the portable md5
    family — hence rows-only correctness); bit j votes +1 if set else -1;
    the simhash bit j is 1 iff the vote sum > 0.  One aggregate() pass
    over the token array — a narrow projection per document.

    ``portable=True`` swaps the token hash to the md5-low-60-bits family
    (identical value on any engine, ~5x dearer) — the oracle-checkable
    variant, used by the ``dedup_simhash_md5`` query to pin the vote
    algebra value-for-value against an independent engine.
    """
    # Single pass over the token array with an array<int> vote accumulator
    # (one aggregate, not n_bits of them — n_bits separate aggregates each
    # re-walk the array and blow up the codegen size ~10x).  Written as a
    # SQL expr because SQL shiftright/shiftleft accept column shift
    # amounts, unlike the pyspark wrappers.
    norm_sql = (
        f"regexp_replace(lower(trim({_sql(col)})), '\\\\s+', ' ')"
    )
    token_hash = (
        "CAST(conv(substring(md5(t), 18, 15), 16, 10) AS BIGINT)"
        if portable
        else "xxhash64(t)"
    )
    return F.expr(
        f"""
        aggregate(
            zip_with(
                aggregate(
                    transform(split({norm_sql}, ' '), t -> {token_hash}),
                    array_repeat(0, {n_bits}),
                    (acc, h) -> zip_with(
                        acc,
                        transform(sequence(0, {n_bits - 1}),
                                  j -> CASE WHEN (h >> j) & 1 = 1
                                            THEN 1 ELSE -1 END),
                        (a, b) -> a + b)
                ),
                sequence(0, {n_bits - 1}),
                (v, j) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), j),
                             CAST(0 AS BIGINT))
            ),
            CAST(0 AS BIGINT),
            (acc2, x) -> acc2 | x
        )
        """
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    max_hamming: int = 3,
    prefix_bits: int = 8,
    n_tables: int = 1,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Blocking: top ``prefix_bits`` of the simhash.  ``n_tables`` > 1 adds
    rotation tables — table t blocks on the prefix of the hash rotated by
    t·(n_bits/n_tables) — so a pair whose differing bits fall inside one
    prefix still collides in another table (the standard simhash recall
    scheme: with hamming ≤ k and enough tables, some rotation pushes all
    differing bits out of the prefix).  Verify with bit_count(xor).

    ``portable=True`` uses the md5-low-60-bit token hash (see
    :func:`simhash64`), making hash, blocking, and verify replayable
    value-for-value on any engine.  The portable path computes votes
    via explode + grouped conditional sums rather than the HOF
    accumulator: HOF lambdas run interpreted, and an interpreted md5
    per token was measured 6x slower at sf1 than letting whole-stage
    codegen hash each exploded token once (vote sums are
    order-independent integers, so the two shapes are value-identical).
    """
    if portable:
        toks = df.select(
            F.col(id_col).alias("_id"),
            F.explode(norm_words(F.col(text_col))).alias("_t"),
        )
        h = md5_64(F.col("_t"))
        votes = toks.groupBy("_id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                        1,
                    ).otherwise(-1)
                ).alias(f"_v{j}")
                for j in range(n_bits)
            ]
        )
        bit_sum = None
        for j in range(n_bits):
            term = F.when(
                F.col(f"_v{j}") > 0,
                F.shiftleft(F.lit(1).cast("bigint"), j),
            ).otherwise(F.lit(0).cast("bigint"))
            bit_sum = term if bit_sum is None else bit_sum + term
        sh = votes.select("_id", bit_sum.alias("_sh")).persist()
    else:
        sh = df.select(
            F.col(id_col).alias("_id"),
            simhash64(text_col, n_bits).alias("_sh"),
        ).persist()  # rotations + both self-join sides reuse the hash

    step = max(n_bits // max(n_tables, 1), 1)
    mask = F.lit((1 << n_bits) - 1 if n_bits < 64 else -1).cast("bigint")

    def rotated_block(t: int) -> F.Column:
        r = (t * step) % n_bits
        if r == 0:
            rot = F.col("_sh")
        else:
            rot = (
                F.shiftleft(F.col("_sh"), r).bitwiseAND(mask)
            ).bitwiseOR(F.shiftrightunsigned(F.col("_sh"), n_bits - r))
        return F.shiftright(rot, n_bits - prefix_bits)

    banded = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), rotated_block(t).alias("b"))
                for t in range(max(n_tables, 1))
            ])
        ).alias("_tb"),
    ).select("_id", "_sh", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_block"))

    a = banded.select(
        "_t", "_block", F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    b = banded.select(
        "_t", "_block", F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    return (
        a.join(b, on=["_t", "_block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- n-gram Jaccard (blocked all-pairs verify) ------------------------------


def jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    threshold: float = 0.2,
    max_block_rows: int = 4096,
    oversize: str = "salt",
    salt_groups: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a block.

    The block join bounds the pair count — but natural block keys skew
    (length buckets on web corpora follow a power law), and a single hot
    block executes its whole n² on ONE task.  Blocks over
    ``max_block_rows`` therefore take an ``oversize`` path:

    - ``"salt"`` (default): the hot block's self-join is decomposed into
      a ``salt_groups`` × ``salt_groups`` grid of sub-joins — each row is
      tagged ``hash(id) % g`` and replicated ``g`` ways on each side, so
      every pair lands in exactly one (gi, gj) cell.  SEMANTICS ARE
      UNCHANGED (still exact all-pairs); total work is still n², but the
      max task shrinks g²-fold and the hot block parallelizes across the
      cluster instead of straggling.  Safe-by-default.
    - ``"minhash"``: the hot block's candidates come from banded
      md5-MinHash collisions (same-block pairs only), bounding candidate
      count by true near-dup density instead of block size.  Sub-linear
      verify cost, but banding recall < 1 for low-similarity pairs —
      opt-in because it changes semantics.
    - ``"error"``: raise on the first oversized block (for pipelines
      that would rather re-block than pay either cost).

    Small blocks always take the direct in-block join.  Returns
    (id_a, id_b, jaccard).
    """
    if oversize not in ("salt", "minhash", "error"):
        raise ValueError(f"oversize must be salt|minhash|error: {oversize!r}")
    # shingles hashed to longs: set sizes (and thus Jaccard) are unchanged
    # modulo 2^-64 collisions, but the per-pair intersect works on fixed
    # width ints instead of strings — several times cheaper.
    sets = (
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("_id"),
            norm_words(F.col(text_col)).alias("_words"),
        )
        .select(
            *block_cols,
            "_id",
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("_words"), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("_set"),
        )
        .persist()  # both sides of the self-join reuse the shingle arrays
    )
    # block sizes ride a window over the same block-key shuffle the join
    # needs anyway; blocks are split into a small tier (direct in-block
    # self-join, sets carried) and an oversized tier
    sized = sets.withColumn(
        "_bsize", F.count(F.lit(1)).over(Window.partitionBy(*block_cols))
    )
    small = sized.filter(F.col("_bsize") <= max_block_rows).drop("_bsize")
    big = sized.filter(F.col("_bsize") > max_block_rows).drop("_bsize")

    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = F.round((inter / F.greatest(union, F.lit(1))).cast("double"), 4)

    def _score(pairs_with_sets: DataFrame) -> DataFrame:
        return (
            pairs_with_sets.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    a = small.select(
        *block_cols, F.col("_id").alias("id_a"), F.col("_set").alias("set_a")
    )
    b = small.select(
        *block_cols, F.col("_id").alias("id_b"), F.col("_set").alias("set_b")
    )
    out = _score(
        a.join(b, on=block_cols).filter(F.col("id_a") < F.col("id_b"))
    )

    if oversize == "error":
        n_big = big.limit(1).count()
        if n_big:
            raise ValueError(
                f"jaccard_pairs: a block exceeds max_block_rows="
                f"{max_block_rows}; re-block, raise the cap, or pick "
                f"oversize='salt'/'minhash'"
            )
        return out

    g = max(int(salt_groups), 2)
    if oversize == "salt":
        # exact all-pairs on the hot block, decomposed into a g x g grid:
        # left row (group gi) replicates across gj cells, right row
        # (group gj) across gi cells, join on (block, gi, gj) — every
        # pair lands in exactly ONE cell, so results are identical to the
        # direct join while the max task shrinks g^2-fold.  Sets ride the
        # replication (g copies each side) — the trade for not paying a
        # second shuffle to re-attach them pair-wise.
        grid = F.explode(F.array(*[F.lit(j) for j in range(g)]))
        own = F.pmod(F.xxhash64(F.col("_id")), F.lit(g)).cast("int")
        ga = big.select(
            *block_cols,
            F.col("_id").alias("id_a"),
            F.col("_set").alias("set_a"),
            own.alias("_gi"),
            grid.alias("_gj"),
        )
        gb = big.select(
            *block_cols,
            F.col("_id").alias("id_b"),
            F.col("_set").alias("set_b"),
            grid.alias("_gi"),
            own.alias("_gj"),
        )
        big_pairs = ga.join(gb, on=[*block_cols, "_gi", "_gj"]).filter(
            F.col("id_a") < F.col("id_b")
        )
        return out.unionByName(_score(big_pairs))

    # oversize == "minhash": banded MinHash candidates WITHIN the hot
    # blocks — candidate count tracks true near-dup density, not block
    # size (recall < 1 for low-similarity pairs; opt-in).  Lanes are
    # seeded xxhash64 over the already-hashed shingles; signatures via
    # explode + groupBy-min (map-side partial mins), candidates from a
    # narrow (block, band, hash) self-join, ONE exact Jaccard per
    # surviving pair.
    num_hashes, bands = 8, 4
    rows_per_band = num_hashes // bands
    ex = big.select(*block_cols, "_id", F.explode("_set").alias("_s"))
    sig = ex.groupBy(*block_cols, "_id").agg(
        *[
            F.min(F.xxhash64(F.lit(lane), F.col("_s"))).alias(f"_h{lane}")
            for lane in range(num_hashes)
        ]
    )
    band_arr = F.array(
        *[
            F.xxhash64(
                *[
                    F.col(f"_h{t * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for t in range(bands)
        ]
    )
    melt = sig.select(
        *block_cols, "_id", F.posexplode(band_arr).alias("_t", "_bh")
    )
    pa = melt.select(
        *block_cols, "_t", "_bh", F.col("_id").alias("id_a")
    )
    pb = melt.select(
        *block_cols, "_t", "_bh", F.col("_id").alias("id_b")
    )
    cand_ids = (
        pa.join(pb, on=[*block_cols, "_t", "_bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = big.select(F.col("_id").alias("id_a"), F.col("_set").alias("set_a"))
    sb = big.select(F.col("_id").alias("id_b"), F.col("_set").alias("set_b"))
    return out.unionByName(
        _score(cand_ids.join(sa, on="id_a").join(sb, on="id_b"))
    )


def _md5_sig_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """Portable-hash MinHash stages shared by the self-join and
    cross-corpus operators: returns (shingles ``(_id, _shingles)``
    PERSISTED — callers own the cache, see jaccard_pairs_via_minhash —
    and band rows ``(_id, band_id, band_hash)``).

    Two independent 56-bit lanes per md5 digest (left/right halves):
    num_hashes lanes cost num_hashes/2 md5 calls — the md5 lanes
    dominate pair-gen cost, so this halves the hot stage.  NOT the
    h1+i*h2 double-hash trick: min-wise correlation between derived
    lanes inflates band-collision recall ~5x (measured), which is a
    different (and much more expensive) candidate distribution.

    Filters on the WORD count, not size(_shingles): a filter over the
    derived shingle column re-evaluates the whole shingle expression in
    the Filter node (no CSE across operators) — 2x the hot stage;
    size(words) >= n is exactly "shingles non-empty" (and mirrors the
    oracle's `len(words) >= n`)."""
    assert num_hashes % 2 == 0, "num_hashes must be even (2 lanes/digest)"
    rows_per_band = num_hashes // bands
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    # The shingle + md5-lane build is the CPU-heavy stage; a small-file
    # scan must not serialize it onto one task (the guarded-repartition
    # idiom from similarity.embedding_near_duplicates — profiled r13 at
    # sf0.1: the banded signature build ran 1.3 s on ONE task because
    # documents.parquet is a single scan split).  At 100 TB the scan has
    # thousands of splits and the guard never fires, so no extra
    # exchange is paid where parallelism is already healthy.
    # Hash-repartition on the id, NOT round-robin repartition(n):
    # keyless repartition local-sorts its full input rows first
    # (sortBeforeRepartition, SPARK-23207), and on rows carrying the
    # text payload that sort costs more than the parallelism buys back
    # (interleaved A/B r13: round-robin regressed the est-jaccard
    # family ~5x; hash-on-id won on all three jaccard_pairs_via_minhash
    # consumers).
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target, F.col("_id"))
    sh = (
        base.select("_id", norm_words(F.col("_t")).alias("_words"))
        .filter(F.size("_words") >= shingle_n)
        .select(
            "_id", word_shingles(F.col("_words"), shingle_n).alias("_shingles")
        )
        .persist()
    )
    exploded = sh.select("_id", F.explode("_shingles").alias("_s"))
    lanes = []
    for j in range(num_hashes // 2):
        digest = F.md5(F.concat(F.lit(str(j)), F.lit(":"), F.col("_s")))
        lanes.append(F.conv(F.substring(digest, 2, 14), 16, 10).cast("bigint"))
        lanes.append(
            F.conv(F.substring(digest, 18, 14), 16, 10).cast("bigint")
        )
    hashed = exploded.select(
        "_id", *[lane.alias(f"_l{i}") for i, lane in enumerate(lanes)]
    )
    sigs = hashed.groupBy("_id").agg(
        *[F.min(f"_l{i}").alias(f"_h{i}") for i in range(num_hashes)]
    ).select(
        "_id", F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("_sig")
    )
    banded = sigs.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("_sig"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("_id", "band.band_id", "band.band_hash")
    # Both sides of a caller's band self-join read `banded` under
    # different aliases, and Catalyst does not reuse the exchange across
    # the two branches (the similarity.embedding_near_duplicates
    # finding) — without a cut the md5-lane signature build runs once
    # PER SIDE (profiled r13 at sf0.1: 2 × 1.3 s of dedup_cc_clusters'
    # 7.7 s).  localCheckpoint, not persist, for the reasons documented
    # at that site; band rows are 3 narrow columns per (doc, band).
    banded = banded.localCheckpoint(eager=False)
    return sh, banded


def _exact_jaccard() -> F.Column:
    """4-dp-rounded Jaccard of the set_a/set_b shingle columns."""
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return F.round((inter / F.greatest(union, F.lit(1))).cast("double"), 4)


def fuzzy_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    threshold: float = 0.05,
) -> DataFrame:
    """NEAR-duplicate decontamination: corpus documents whose n-gram
    Jaccard against some benchmark document clears ``threshold`` — the
    fuzzy upgrade of :func:`corpus.benchmark_contamination` (exact
    shared n-grams miss paraphrased/lightly-edited eval leakage; banded
    MinHash catches it).

    Cross-corpus shape: both sides build the portable md5-lane MinHash
    band index; candidates come from a (band_id, band_hash) equi-join
    of CORPUS bands against BENCHMARK bands (never a self-join, never
    all-pairs — cost tracks true cross-corpus similarity), and each
    surviving (corpus, bench) pair gets ONE exact-Jaccard verification.
    Returns (id, bench_id, jaccard) with jaccard ≥ threshold.

    The shingle frames are persist()-ed — callers own the cache (same
    convention as jaccard_pairs_via_minhash).
    """
    sh_c, band_c = _md5_sig_bands(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    )
    sh_b, band_b = _md5_sig_bands(
        benchmark, id_col, text_col, num_hashes, bands, shingle_n
    )
    cand = (
        band_c.select("band_id", "band_hash", F.col("_id").alias("_cid"))
        .join(
            band_b.select(
                "band_id", "band_hash", F.col("_id").alias("bench_id")
            ),
            on=["band_id", "band_hash"],
        )
        .select("_cid", "bench_id")
        .dropDuplicates(["_cid", "bench_id"])
    )
    verified = cand.join(
        sh_c.select(F.col("_id").alias("_cid"), F.col("_shingles").alias("set_a")),
        on="_cid",
    ).join(
        sh_b.select(
            F.col("_id").alias("bench_id"), F.col("_shingles").alias("set_b")
        ),
        on="bench_id",
    )
    return (
        verified.withColumn("jaccard", _exact_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("_cid").alias(id_col), "bench_id", "jaccard")
    )


def jaccard_pairs_via_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    threshold: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard, candidates from md5-MinHash LSH banding.

    The 100 TB shape for pair verification when no natural block key
    exists (or natural blocks go hot — length buckets on natural-language
    corpora skew badly): candidates come from banded MinHash collisions,
    so the verify cost tracks the TRUE near-dup density instead of the
    block-size distribution.  The md5 hash family keeps every stage
    engine-portable (oracle-checkable value-for-value).

    Plan: shingle sets persist narrow → signature via explode +
    groupBy-min (codegen, map-side partial mins) → band self-join on
    16-byte band hashes → pair dedup → ONE exact-Jaccard evaluation per
    surviving candidate.  Returns (id_a, id_b, jaccard).

    Cache lifetime: the shingle frame is ``persist()``-ed and referenced
    lazily by the returned plan, so this function cannot unpersist it —
    CALLERS OWN THE CACHE.  Long-running drivers should release it after
    materializing the result (``spark.catalog.clearCache()`` between
    pipeline stages, or track via ``df.storageLevel``); one-shot query
    runs drop it with the session.  Same convention as the other
    persist() sites in this module.
    """
    sh, banded = _md5_sig_bands(df, id_col, text_col, num_hashes, bands, shingle_n)
    pairs = (
        banded.select("band_id", "band_hash", F.col("_id").alias("id_a"))
        .join(
            banded.select("band_id", "band_hash", F.col("_id").alias("id_b")),
            on=["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        pairs.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("set_a")),
            on="id_a",
        ).join(
            sh.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("set_b")),
            on="id_b",
        )
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        verified.withColumn(
            "jaccard",
            F.round((inter / F.greatest(union, F.lit(1))).cast("double"), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable LSH index rows for a document set: one row per
    (doc, band) with the banded hash AND the full signature —
    ``(id, band_id, band_hash, sig)``.

    This is the state a STREAMING dedup keeps between batches (see
    ``streaming/dedup_stream.py``): new docs band-join against the
    stored rows, and estimated Jaccard = signature agreement rate needs
    ``sig`` carried next to the band key.  Same plan shape as
    ``minhash_near_duplicates`` stages 1-2 (explode + groupBy-min
    signatures — codegen'd with map-side partial mins — then banding);
    docs too short to shingle produce no rows.

    At 100 TB the store is written partitioned/bucketed by
    (band_id, band_hash) so an incoming batch's probe is a bucket-pruned
    join, never a full scan.
    """
    rows_per_band = num_hashes // bands
    exploded = (
        df.select(
            F.col(id_col).alias("_id"),
            norm_words(F.col(text_col)).alias("_words"),
        )
        .filter(F.size("_words") >= shingle_n)
        .select(
            "_id",
            F.explode(word_shingles(F.col("_words"), shingle_n)).alias("_s"),
        )
    )
    sigs = exploded.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("_s"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    ).select(
        "_id", F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("sig")
    )
    return sigs.select(
        F.col("_id").alias(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("sig"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("_band"),
        "sig",
    ).select(
        id_col,
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
        "sig",
    )
