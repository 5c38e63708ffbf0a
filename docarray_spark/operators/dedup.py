"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md "beyond the reference" set): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (100 TB corpora):

* Nothing ever computes an N×N comparison. Candidate generation is always a
  *bucket equi-join* (LSH band keys / simhash bands / hyperplane buckets),
  so the only shuffles are hash-partitioned joins on short keys, which AQE
  can skew-split.
* All hashes are md5-based column expressions — deterministic, engine-
  portable (same values in any SQL engine for oracles), and JVM-evaluated.
* Verification (exact Jaccard / cosine) runs only on bucket-collision pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from docarray_spark.functions.vectors import as_matrix, unit_rows
from docarray_spark.operators.text import tokens_col


def _ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Alias of :func:`docarray_spark.functions.localexec.ensure_parallelism`
    (file-split estimate, no ``df.rdd`` plan→RDD conversion — VERDICT r12 #8)."""
    from docarray_spark.functions.localexec import ensure_parallelism

    return ensure_parallelism(df, min_parts)

# ------------------------------------------------------------------- exact


def fingerprint_expr(cols: list[Column | str]) -> Column:
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws("\x1f", *[c.cast("string") for c in cs]))


def exact_dedup(df: DataFrame, cols: list, id_col: str = "id") -> DataFrame:
    """Keep one row (min id) per fingerprint — hash-groupBy dedup. Map-side
    partial aggregation applies; no row data moves except the winners."""
    fp = fingerprint_expr(cols)
    winners = (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def dup_groups(df: DataFrame, cols: list, id_col: str = "id") -> DataFrame:
    """Duplicate-cluster summary: (fingerprint, dup_count, canonical_id)."""
    return (
        df.withColumn("fingerprint", fingerprint_expr(cols))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------- shingles


def word_shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    Built as a ``zip_with`` chain over n SHIFTED slices of the token array
    instead of slicing inside a per-gram lambda: higher-order functions are
    CodegenFallback and interpreted eval re-computes a lambda-referenced
    subtree per element, so the lambda form re-split the text once per gram
    — O(W²) (the winnow_fingerprints bug class). Shifted slices evaluate
    once each: O(n·W)."""
    toks = tokens_col(text)
    m = F.size(toks) - F.lit(n - 1)
    grams = F.slice(toks, 1, F.greatest(m, F.lit(1)))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, F.greatest(m, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    grams = F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(grams)


def with_word_shingles(
    df: DataFrame, text_col: str, n: int, out_col: str = "_sh"
) -> DataFrame:
    """``df`` + ``out_col`` = the same distinct word n-gram shingles as
    :func:`word_shingles_col`, built the fast way available when a
    DataFrame (not just a Column) is in hand: the token array is STAGED
    as a materialized column, then ONE ``transform`` over start indices
    slices it per gram. Interpreted HOF eval re-computes lambda-referenced
    expression SUBTREES per element but evaluates ATTRIBUTE references
    once per row (the winnow/gopher staging exemption), so this is safe
    and single-pass — the pure-Column zip_with chain materializes n-1
    intermediate gram arrays with progressively longer strings (measured
    3×: 1.58 s → 0.52 s for n=8 over the 5k sf0.1 docs, r9). Values are
    identical; callers that only have an expression keep using
    :func:`word_shingles_col`."""
    tok = f"__{out_col}_toks"
    toks = F.col(tok)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
    )
    grams = F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return (
        df.withColumn(tok, tokens_col(text_col))
        .withColumn(out_col, F.array_distinct(grams))
        .drop(tok)
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ------------------------------------------------------------- MinHash LSH


_MERSENNE_P = 2147483647  # 2^31 - 1; md5-int < 2^32, so h*(2b+1)+b < 2^38 — no overflow


def minhash_bands_col(
    shingles: Column, num_bands: int, hash_method: str = "md5"
) -> Column:
    """num_bands minhash values (r=1 bands): band b = min over shingles of
    an affine re-mix of ONE hash-derived integer per shingle (universal
    hashing: h_b(s) = (h(s)·(2b+1) + b) mod (2^31-1)). With one hash per
    band, P(band collision) = Jaccard, so P(candidate) = 1-(1-J)^bands —
    the standard LSH S-curve — at 1/num_bands of the hash cost.
    ``hash_method='xxhash64'`` is the cheaper production hash; md5 stays
    the oracle-portable default (functions/hashing.py)."""
    from docarray_spark.functions.hashing import hash_u32_col

    h = lambda s: hash_u32_col(s, hash_method)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.array_min(
            F.transform(shingles, lambda s: (h(s) * (b * 2 + 1) + b) % _MERSENNE_P)
        ),
    )


def _checked_shingles(shingles: DataFrame, id_col: str, op: str) -> DataFrame:
    """A caller-built ``shingles=`` table, checked for the ``(_id, _sh
    array<string>)`` shape the dedup passes read."""
    from pyspark.sql import types as T

    fields = {f.name: f.dataType for f in shingles.schema.fields}
    sh = fields.get("_sh")
    if "_id" not in fields or not (
        isinstance(sh, T.ArrayType) and isinstance(sh.elementType, T.StringType)
    ):
        raise ValueError(
            f"{op}: shingles= must have an _id column and an array<string> "
            f"_sh column, got {shingles.schema.simpleString()}; build it as "
            f"with_word_shingles(df, text_col, shingle_n)"
            f'.select(F.col("{id_col}").alias("_id"), "_sh")'
        )
    return shingles


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    threshold: float = 0.5,
    round_to: int | None = None,
    persist: bool = True,
    num_rows: int = 1,
    max_bucket: int | None = None,
    hash_method: str = "md5",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → banded minhash → bucket
    equi-join → exact Jaccard verify ≥ threshold.

    ``shingles``: a pre-built ``(_id, _sh)`` shingle table — EXACTLY what
    ``with_word_shingles(df, text_col, shingle_n).select(id→_id, _sh)``
    produces — shared with other passes over the same corpus (r13, guide
    §2.4: the minhash and exact-Jaccard entries each re-tokenized and
    re-shingled the same documents; one persisted table serves both).
    The caller owns its persistence; the operator skips its own shingle
    build AND its own persist of that table (``persist`` then only
    governs the bucket table). Values are unchanged by construction —
    the expression the caller ran is the one this operator would have.

    ``max_bucket``: drop (band, minhash) buckets holding more than this
    many docs before the candidate join — a mass-duplicated boilerplate
    page puts its whole cohort in one bucket and the join goes quadratic
    in that cohort's size; the pairs it would emit are exactly the ones
    connected-components collapses to one survivor anyway, so cap the
    bucket and route such cohorts through exact dedup first. Off by
    default (oracle-gated entries stay exact).

    ``num_rows`` = minhashes per band (the classic (b, r) scheme):
    P(candidate) = 1-(1-J^r)^b. r=1 maximizes recall but admits weakly-
    similar pairs as candidates (J=0.1 → 81% at b=16), flooding the
    verify join; r=2 keeps ~94% recall at J≥0.4 while candidates drop to
    ~real near-dups only — the right default when thresholds are ≥0.4.

    → (id_a, id_b, jaccard) with id_a < id_b. The N×N space is never
    touched: the only joins are hash-partitioned equi-joins on (band,
    minhash) bucket keys plus a broadcast of the shingle arrays for
    verification.

    Physical shape: minhashes are pure ARRAY EXPRESSIONS — one md5 per
    shingle into an ``_hv`` array, then ``num_bands·num_rows`` affine
    ``array_min`` re-mixes of it (``minhash_bands_col`` family) inside the
    SAME projection. Zero shuffles before the bucket join (the earlier
    explode + partial-agg formulation paid a 540k-row shuffle and ran 10×
    slower at sf0.1). The shingle table feeds BOTH candidate generation and
    verification, so it's persisted (memory-and-disk) by default — at
    petabyte scale pass ``persist=False`` and materialize it to storage
    yourself instead."""
    # no _sh null-filter: the shingle array is never null (empty/null text
    # → empty array, minima → [NULL]×bands, matches nothing), and a filter
    # on it would be predicate-pushed BELOW the staging projection with the
    # whole gram expression inlined — the O(W²) re-split-per-element
    # rebuild with_word_shingles exists to avoid (r9 plan forensics)
    if shingles is not None:
        base = _checked_shingles(shingles, id_col, "minhash_dedup_pairs")
    else:
        base = with_word_shingles(
            _ensure_parallelism(df), text_col, shingle_n
        ).select(F.col(id_col).alias("_id"), "_sh")
        if persist:
            from pyspark import StorageLevel

            base = base.persist(StorageLevel.MEMORY_AND_DISK)
    n_hashes = num_bands * num_rows
    # md5 runs ONCE per shingle as a JVM expression; the n_hashes affine
    # minima then compute in numpy over the hash array (Arrow-batched).
    # The int64 arithmetic is identical to the SQL form (h < 2^32,
    # h*(2i+1)+i < 2^38 — no overflow; same mod), so the minhash VALUES —
    # and therefore the oracle gate — are unchanged, but the per-shingle
    # work drops from n_hashes interpreted lambda evals to one vectorized
    # broadcast (204k-doc corpus: 144 s → ~35 s, r3 scale run).
    # hash_method='xxhash64' swaps the per-shingle hash for the ~3x
    # cheaper JVM intrinsic (functions/hashing.py) — candidate BUCKETS
    # differ but the verified-Jaccard output contract is identical;
    # oracle-gated entries stay on md5.
    from docarray_spark.functions.hashing import hash_u32_sql

    hv_expr = F.expr(f"transform(_sh, s -> {hash_u32_sql('s', hash_method)})")

    coef = np.arange(n_hashes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _affine_minima(hvs: pd.Series) -> pd.Series:
        out = []
        for hv in hvs:
            h = np.asarray(hv, dtype=np.int64)
            if h.size == 0:
                out.append(np.full(n_hashes, _MERSENNE_P, dtype=np.int64))
                continue
            out.append(
                ((h[:, None] * (2 * coef + 1) + coef) % _MERSENNE_P).min(axis=0)
            )
        return pd.Series(out)

    mins = base.withColumn("_mins", _affine_minima(hv_expr))
    band_keys = [
        F.concat_ws(
            "_",
            *[
                F.element_at(F.col("_mins"), b * num_rows + j + 1).cast("string")
                for j in range(num_rows)
            ],
        )
        for b in range(num_bands)
    ]
    buckets = mins.select(
        "_id", F.size("_sh").alias("_sz"),
        F.posexplode(F.array(*band_keys)).alias("band", "mh"),
    )
    if persist:
        # both join sides (and the optional bucket census) reference this
        # subtree; un-persisted, each reference re-runs the minhash UDF and
        # the re-computation amplified the 204k-doc run ~10x (r3 scale run).
        # eager_cache: the join's two map stages otherwise build the cache
        # CONCURRENTLY and racing tasks recompute the shingle+minhash chain
        # per side (r12 opt pass 2 — this also materializes the shingle
        # base above, which the verify self-join reads)
        from docarray_spark.functions.localexec import eager_cache

        buckets = eager_cache(buckets.persist())
    if max_bucket is not None:
        # broadcast the HOT buckets (tiny by construction: only the
        # pathological keys exceed the cap) and anti-join — broadcasting
        # the OK side shipped ~all distinct bucket keys to the driver and
        # blew spark.driver.maxResultSize at 4M docs (r4 scale run)
        hot = (
            buckets.groupBy("band", "mh")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("band", "mh")
        )
        buckets = buckets.join(F.broadcast(hot), ["band", "mh"], "left_anti")
    left = buckets.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), "band", "mh"
    )
    right = buckets.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), "band", "mh"
    )
    # size-ratio prefilter (r13, guide §3 candidate pruning): distinct-
    # shingle sets obey J ≤ min(sz)/max(sz), so candidates whose sizes
    # cannot reach the threshold drop BEFORE the pair dedup and the two
    # shingle-array re-joins; 1e-6 slack covers the round_to boundary
    # (recall-safe — see ngram_jaccard_exact_pairs). Sizes are one long
    # per bucket row riding the existing exchange.
    ratio_ok = F.least(F.col("_sza"), F.col("_szb")) >= (
        F.lit(float(threshold) - 1e-6) * F.greatest(F.col("_sza"), F.col("_szb"))
    )
    pairs = (
        left.join(right, ["band", "mh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ratio_ok)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    verified = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    j = jaccard_col(F.col("sh_a"), F.col("sh_b"))
    if round_to is not None:
        j = F.round(j, round_to)
    return verified.select("id_a", "id_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_exact_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int | None = None,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard via a shingle inverted index — the
    ground-truth counterpart to the LSH paths (use it to measure their
    recall, or directly when the corpus fits the join budget).

    → (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Scale shape: explode distinct shingles → self-equi-join on the shingle
    string (hash-partitioned) → count = |A∩B| per pair → Jaccard from the
    per-doc set sizes carried alongside. N×N is never touched: join volume
    is Σ df(s)² over shingles. Ultra-common shingles inflate that
    quadratically, so ``max_df`` drops shingles appearing in more than
    ``max_df`` docs (the standard prefix-filter); pairs sharing ONLY
    dropped shingles are then missed AND surviving pairs' Jaccard is
    computed on the filtered sets — exactness only holds with
    ``max_df=None``.

    ``shingles``: a pre-built ``(_id, _sh)`` table shared with other
    passes over the same corpus (same contract as
    :func:`minhash_dedup_pairs`; caller owns its persistence)."""
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size(...)>0 filter below a plain explode, and predicate pushdown
    # inlines the whole staged shingle expression into it — the O(W²)
    # re-split-per-element rebuild (r9 plan forensics; outer generates are
    # exempt from the inference). The post-generate null filter restores
    # the exact row set (empty arrays emit one null row).
    if shingles is not None:
        base = _checked_shingles(shingles, id_col, "ngram_jaccard_exact_pairs")
    else:
        base = with_word_shingles(
            _ensure_parallelism(df), text_col, shingle_n
        ).select(F.col(id_col).alias("_id"), "_sh")
    posting = base.select(
        "_id", F.size("_sh").alias("_sz"), F.explode_outer("_sh").alias("_s")
    ).filter(F.col("_s").isNotNull())
    if max_df is not None:
        keep = (
            posting.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_s")
        )
        posting = posting.join(keep, "_s")
        sizes = posting.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
        posting = posting.drop("_sz").join(sizes, "_id")
    # both self-join sides reference the posting list; persist so the
    # shingle explode runs once, not per side (r3 amplification lesson),
    # and materialize BEFORE the join so its two concurrent map stages
    # read the cache instead of racing to build it (r12 opt pass 2)
    from docarray_spark.functions.localexec import eager_cache

    posting = eager_cache(posting.persist())
    a = posting.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), "_s"
    )
    b = posting.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), "_s"
    )
    # size-ratio prefilter (r13, guide §3 candidate pruning — the length
    # filter of the ppjoin family): for DISTINCT-shingle sets,
    # J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose size ratio cannot
    # reach the threshold are dropped BEFORE the intersection aggregate —
    # they would be filtered by `jaccard >= threshold` anyway. The 1e-6
    # slack covers the round_to boundary (round(J, 6) ≥ t needs
    # J > t − 0.5e-6 > t − 1e-6); with round_to=None it only keeps extra
    # pairs. Provably recall-safe either way.
    ratio_ok = F.least(F.col("sz_a"), F.col("sz_b")) >= (
        F.lit(float(threshold) - 1e-6) * F.greatest(F.col("sz_a"), F.col("sz_b"))
    )
    inter = (
        a.join(b, "_s")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ratio_ok)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    j = F.col("_i") / (F.col("sz_a") + F.col("sz_b") - F.col("_i"))
    if round_to is not None:
        j = F.round(j, round_to)
    return inter.select("id_a", "id_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    num_bands: int = 16,
    round_to: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs. Same LSH candidate generation with a
    wider band count (higher recall), then exact Jaccard — the honest way to
    do 'n-gram Jaccard dedup' at scale."""
    return minhash_dedup_pairs(
        df, id_col, text_col, shingle_n, num_bands, threshold, round_to
    )


# ----------------------------------------------------------------- SimHash


def _simhash_hex_chars(bits: int) -> int:
    """Token-hash width for a ``bits``-bit SimHash: the md5 prefix must
    cover every fingerprint bit (an 8-hex/32-bit prefix makes bits 32+
    silently constant — r3 scale run), and stays ≤15 hex chars so the
    base-16 conv fits a signed BIGINT. Practical ceiling: bits ≤ 60."""
    if bits > 60:
        raise ValueError(f"simhash supports at most 60 bits (got {bits})")
    return max(8, (bits + 3) // 4)


def simhash_col(text_col: str, bits: int = 16) -> Column:
    """SimHash fingerprint: per-token 32-bit hash from md5 hex; bit i of the
    fingerprint is set iff sum over tokens of (±1 on token-hash bit i) > 0.
    Pure SQL expression (portable: `conv` ↔ `CAST('0x…')`).

    Single-pass shape (r9): the token-hash array is the aggregate's INPUT,
    so md5 runs once per token; the fold accumulates all ``bits`` signed
    counts via zip_with and the finish lambda assembles the fingerprint.
    The earlier per-bit outer aggregate re-evaluated the whole
    split+md5 subtree once PER BIT under interpreted HOF eval — 32× the
    hashing work (measured 2.2 s → 0.26 s per 5k-doc streaming drain at
    sf0.1); values are bit-identical (same counts, same c > 0 test).
    NULL text keeps the old form's fingerprint 0 (its per-bit IF(NULL > 0)
    always took the else branch); the aggregate-over-NULL-array here
    yields NULL, so the coalesce restores it — a streaming dedup state
    store keyed on this column must not see the key change."""
    hx = _simhash_hex_chars(bits)
    return F.expr(
        f"""
        coalesce(aggregate(
          transform(
            split(lower(trim({text_col})), '\\\\s+'),
            t -> cast(conv(substring(md5(t), 1, {hx}), 16, 10) as bigint)
          ),
          array_repeat(0L, {bits}),
          (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
            (a, i) -> a + IF((h >> i) % 2 = 1, 1L, -1L)),
          counts -> aggregate(
            zip_with(counts, sequence(0, {bits - 1}),
              (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)),
            0L,
            (a, b) -> a + b
          )
        ), 0L)
        """
    )


def simhash_table(
    df: DataFrame, id_col: str = "id", text_col: str = "text", bits: int = 32,
    hash_method: str = "md5",
) -> DataFrame:
    """→ (id, simhash): same fingerprint as :func:`simhash_col`, computed
    the scale-friendly way — one md5 per token into a per-row hash ARRAY,
    then ``bits`` signed-bit-count ``aggregate`` expressions and the bit
    assembly all inside one projection. ZERO shuffles (the earlier
    explode + bits-column partial agg paid a full token-row shuffle and
    ran ~5× slower; same lesson as the minhash operator)."""
    base = (
        _ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), tokens_col(text_col).alias("_t"))
        .filter(F.col("_t").isNotNull())
    )
    from docarray_spark.functions.hashing import hash_bits_sql

    hx = _simhash_hex_chars(bits)  # validates the bits ceiling
    if hash_method == "md5":
        # The tokenize stays the JVM split expression (codegen, and the
        # exact semantics the SQL oracle replays); only the per-token-bit
        # signed-count fold moves to numpy — HOF aggregates evaluate
        # interpreted (CodegenFallback), and the bits×tokens lambda walk
        # was ~22 s of task time at sf0.1 (r12 stage profile). The Python
        # hash is the same value as hash_bits_sql's md5 branch
        # (int of the first ``hx`` hex chars, low ``bits`` kept), so the
        # fingerprints are bit-identical — integer math throughout.
        import hashlib

        mask = (1 << bits) - 1 if 4 * hx != bits else None
        # digest-byte read: int(hexdigest[:hx], 16) == the first hx hex
        # chars == int.from_bytes(digest[:ceil(hx/2)]) >> (4 if hx odd) —
        # same value, no hex-string round trip
        _nb = (hx + 1) // 2
        _sh4 = 4 * (2 * _nb - hx)

        @F.pandas_udf("long")
        def _simhash_np(toks: pd.Series) -> pd.Series:
            # md5 once per DISTINCT token per batch, not per occurrence:
            # natural text repeats tokens heavily (the whole batch's
            # occurrence→distinct ratio is ~5-30×), and the hash is the
            # per-token cost that dominated this kernel (r12 opt pass 2).
            # np.unique(return_inverse) maps occurrences back, so every
            # per-doc bit count sees exactly the values the per-occurrence
            # loop produced (pinned ≡ simhash_col's fold in
            # test_dedup.test_simhash_kernel_matches_fold).
            md5 = hashlib.md5
            shifts = np.arange(bits, dtype=np.int64)
            nrows = len(toks)
            out = np.zeros(nrows, dtype=np.int64)
            lens = np.fromiter(
                (len(ts) for ts in toks), dtype=np.int64, count=nrows
            )
            total = int(lens.sum())
            if total == 0:
                return pd.Series(out)
            flat = np.empty(total, dtype=object)
            pos = 0
            for ts in toks:
                n = len(ts)
                if n:
                    flat[pos:pos + n] = ts
                    pos += n
            uniq, inv = np.unique(flat, return_inverse=True)
            hu = np.fromiter(
                (
                    int.from_bytes(
                        md5(t.encode("utf-8")).digest()[:_nb], "big"
                    ) >> _sh4
                    for t in uniq
                ),
                dtype=np.int64, count=len(uniq),
            )
            if mask is not None:
                hu &= mask
            h = hu[inv]
            offs = 0
            for i in range(nrows):
                n = int(lens[i])
                if n == 0:
                    continue
                seg = h[offs:offs + n]
                offs += n
                ones = ((seg[:, None] >> shifts) & 1).sum(axis=0)
                out[i] = int(((2 * ones - n > 0).astype(np.int64) << shifts).sum())
            return pd.Series(out)

        return base.select(F.col("_id").alias(id_col), _simhash_np("_t").alias("simhash"))

    # non-md5 hash methods: the original single-aggregate expression form
    counts = F.expr(
        f"""
        aggregate(
          transform(_t, t -> {hash_bits_sql("t", bits, hash_method)}),
          array_repeat(0L, {bits}),
          (acc, x) -> zip_with(acc, sequence(0, {bits - 1}),
            (a, i) -> a + IF((x >> i) % 2 = 1, 1L, -1L))
        )
        """
    )
    fp = F.expr(
        f"""
        aggregate(
          zip_with(_cnt, sequence(0, {bits - 1}),
                   (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)),
          0L, (a, v) -> a + v
        )
        """
    )
    return (
        base.withColumn("_cnt", counts)
        .select(F.col("_id").alias(id_col), fp.alias("simhash"))
    )


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    num_bands: int = 4,
    max_bucket: int | None = None,
    hash_method: str = "md5",
    slices_per_band: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs: slice the fingerprint into ``num_bands``
    bit slices and bucket-join on band keys built from
    ``slices_per_band`` slices each (every combination); by pigeonhole,
    any pair within ``max_hamming <= num_bands - slices_per_band``
    differing bits leaves ≥ ``slices_per_band`` slices untouched, so at
    least one combination key collides. Verify with
    bit_count(xor) ≤ max_hamming.

    ``slices_per_band`` is the CORPUS-SIZE dial (r4 scale run): with r=1
    a band key is only bits/num_bands wide — 12 bits at bits=48/4 —
    so expected bucket occupancy grows as n/2^width and the candidate
    join as n²/2^width: measured 5.9 s at 204k docs but 241 s at 1M.
    r=2 with num_bands=6 squares the keyspace (C(6,2)=15 keys of
    2·(bits/6) bits), trading 15 narrow probes for quadratically fewer
    collisions — measured back under a minute at 1M (NOTES r4).

    The pigeonhole guarantee requires
    ``max_hamming <= num_bands - slices_per_band``; beyond that, pairs
    whose differing bits spread across every band key are silently
    missed, so we raise (ADVICE r1).

    Precondition: ``id_col`` is unique in ``df``. The hamming verify runs
    before the pair dedup and relies on one fingerprint per id; with a
    duplicated id, two rows of it can carry different fingerprints, so a
    pair may pass through one copy and fail through another, and which
    ``hamming`` survives ``dropDuplicates`` is then arbitrary. Not
    checked (it would cost a distinct count over the corpus)."""
    if max_hamming > num_bands - slices_per_band:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole recall "
            f"guarantee with num_bands={num_bands} and "
            f"slices_per_band={slices_per_band}; need max_hamming <= "
            f"num_bands - slices_per_band"
        )
    width = bits // num_bands
    base = simhash_table(df, id_col, text_col, bits, hash_method=hash_method).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("sh")
    )
    # both join sides derive from the fingerprint table; persist it so the
    # per-token hashing runs ONCE, not once per side (the projections
    # differ, so exchange reuse alone never kicks in — halves the
    # operator's wall clock at sf0.1). eager_cache: without it the bucket
    # join's two concurrent map stages race to build the cache and each
    # recomputes the fingerprint kernel (r12 opt pass 2)
    from docarray_spark.functions.localexec import eager_cache

    base = eager_cache(base.persist())
    if slices_per_band == 1:
        slices = base.selectExpr(
            "_id",
            "sh",
            f"posexplode(transform(sequence(0, {num_bands - 1}), "
            f"b -> (sh >> (b * {width})) % {1 << width}L)) "
            "as (band, sliceval)",
        )
    else:
        from itertools import combinations

        # composite keys: concatenated slice values per combination,
        # packed into one BIGINT (always fits: slices_per_band * width
        # <= bits <= 60)
        combo_exprs = []
        # function-form shifts: the multi-alias `as (band, sliceval)`
        # parser path rejects >>/<< operators inside the generator call
        for combo in combinations(range(num_bands), slices_per_band):
            parts = [
                f"shiftleft(shiftright(sh, {i * width}) % {1 << width}L, {pos * width})"
                for pos, i in enumerate(combo)
            ]
            combo_exprs.append(" + ".join(parts))
        arr = ", ".join(combo_exprs)
        slices = base.selectExpr(
            "_id", "sh",
            f"posexplode(array({arr})) as (band, sliceval)",
        )
    if max_bucket is not None:
        # same hot-bucket guard as the minhash/embedding LSH paths: a
        # mass-duplicated cohort floods one (band, slice) bucket and the
        # join goes quadratic in cohort size
        hot = (
            slices.groupBy("band", "sliceval")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("band", "sliceval")
        )
        slices = slices.join(F.broadcast(hot), ["band", "sliceval"], "left_anti")
    left = slices.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "sliceval")
    right = slices.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "sliceval")
    # hamming verify BEFORE the pair dedup (r13, guide §2.3 — shuffle fewer
    # bytes): the fingerprints ride the bucket rows, so the verify is an
    # inline bit_count — no re-join needed — and, under the docstring's
    # unique-id precondition, it is functionally determined by (id_a,
    # id_b), so every duplicate bucket collision of a pair passes or fails
    # together and the surviving dropDuplicates row set is bit-identical.
    # Measured at sf0.1 (dedup_components SQL metrics): the distinct
    # aggregate's input drops 2.53 M → 83 k rows, its 23.7 s aggregation
    # build and 135 MiB exchange collapse proportionally.
    return (
        left.join(right, ["band", "sliceval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- embedding near-dup


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    threshold: float = 0.1,
    method: str = "lsh",
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    round_to: int | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, cosine_dist < threshold).

    method='lsh' (scale path): random-hyperplane signatures — ``num_tables``
    independent tables of ``num_planes`` sign bits; bucket equi-join on
    (table, signature), exact cosine verify. Recall = 1-(1-(1-θ/π)^p)^T.
    Hyperplanes are md5-derived ±1 signs (``functions/lsh.py``) —
    deterministic AND SQL-reproducible, so the bucketing itself is
    oracle-checkable. The bucket join carries ONLY (id, table, sig);
    vectors are re-joined once for the cosine verify (they'd otherwise be
    replicated num_tables× through the shuffle — round-1 verdict flaw #2).

    method='exact': full self-join (only for small frames / oracle checks).

    ``max_bucket`` (LSH only): drop signature buckets holding more than
    this many ids before the candidate join. A degenerate hot bucket (all
    near-zero vectors, a constant-embedding bug, a mass-duplicated shard)
    makes the bucket join quadratic in that bucket's size at 100 TB; an
    over-full bucket also carries no discrimination (standard LSH
    practice). Off by default — the oracle-gated entries stay exact.
    """
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    base = _ensure_parallelism(df).select(F.col(id_col).alias("_id"), emb_d.alias("_v")).filter(
        F.col("_v").isNotNull() & (F.size("_v") > 0)
    )
    if method == "exact":
        left = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
        right = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
        pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        from docarray_spark.functions.lsh import signatures_udf

        if dim is None:  # one extra job; pass dim when known
            dim = len(base.select("_v").first()[0])
        sig = signatures_udf(dim, num_tables, num_planes, seed)
        # base feeds four subtrees (both bucket sides + both verify
        # re-joins) and sigs feeds two — persist both so the scan and the
        # signature UDF run once, not per reference (same lesson as
        # simhash_dup_pairs; bench clears cache between entries).
        # eager_cache on sigs materializes BOTH caches in one job (sigs
        # reads through base) before the bucket/verify self-joins fan out
        # concurrently and race to build them (r12 opt pass 2)
        from docarray_spark.functions.localexec import eager_cache

        base = base.persist()
        # ids-only buckets: the projection consumes the vector, emits
        # (id, table, sig) and nothing else
        sigs = eager_cache(base.select(
            "_id", F.posexplode(sig("_v")).alias("table", "sig")
        ).persist())
        if max_bucket is not None:
            hot = (
                sigs.groupBy("table", "sig")
                .agg(F.count(F.lit(1)).alias("_bn"))
                .filter(F.col("_bn") > max_bucket)
                .select("table", "sig")
            )
            # only the pathological keys broadcast (anti-join) — the OK
            # set is corpus-bucket-sized and must never hit the driver
            sigs = sigs.join(F.broadcast(hot), ["table", "sig"], "left_anti")
        left = sigs.select(F.col("_id").alias("id_a"), "table", "sig")
        right = sigs.select(F.col("_id").alias("id_b"), "table", "sig")
        cand = (
            left.join(right, ["table", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        v_a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
        v_b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
        pairs = cand.join(v_a, "id_a").join(v_b, "id_b")
    else:
        raise ValueError(f"unknown method {method!r}")
    # Arrow pair kernel ≡ the fold form bit-for-bit (functions/distance.py)
    # — the interpreted HOF fold dominated the verify stage (r12 profile)
    from docarray_spark.functions.distance import pair_distance_udf

    dist = pair_distance_udf("cosine")(F.col("va"), F.col("vb"))
    if round_to is not None:
        dist = F.round(dist, round_to)
    return (
        pairs.select("id_a", "id_b", dist.alias("cosine_dist"))
        .filter(F.col("cosine_dist") < threshold)
    )


def embedding_dup_pair_gates(
    df: DataFrame,
    gates: list[tuple[str, int, float]],
    id_col: str = "id",
    emb_col: str = "embedding",
    num_planes: int = 12,
    seed: int = 42,
    round_to: int | None = None,
    dim: int | None = None,
    gate_chunks: int = 8,
) -> DataFrame:
    """Fused form of several :func:`embedding_dup_pairs`(method='lsh') calls
    over the SAME input that differ only in ``(num_tables, threshold)`` —
    the r12 suite ran two such full pipelines back to back (8-table/θ=0.01
    and 4-table/θ=0.05), re-scanning, re-signing and re-verifying the same
    vectors (guide §2.4: no cross-branch CSE).

    ``gates``: list of ``(part_label, num_tables, threshold)``.

    Why fusing is value-exact: hyperplane components derive from
    ``md5(f"{seed}_{table}_{plane}_{dim}")`` (functions/lsh.py) —
    independent of ``num_tables`` — so a T-table gate's signature table is
    literally the first T tables of the max-table signature set, and its
    candidate pairs are exactly the fused candidates with
    ``min(table) < T``. One signature pass, one bucket join, ONE exact
    cosine verify (same Arrow kernel, same rounding); each gate row-filters
    ``min(table) < T AND dist < θ``. The per-gate outputs are bit-for-bit
    the separate operators' (pinned in tests/test_dedup.py).

    Candidate prefilter (VERDICT r12 #1, guide §3.2 spirit): the signature
    pass also emits normalized chunk norms, and candidates whose
    Cauchy–Schwarz cosine upper bound cannot reach the LOOSEST gate
    threshold are dropped JVM-side BEFORE the two vector re-joins — a
    recall-safe cut of the verify join's input (measured 46% of candidate
    pairs at sf0.1; the margin 1e-6 covers the round_to=6 boundary).

    No ``_ensure_parallelism`` here: the signature kernel is one BLAS
    matmul per Arrow batch (trivial per row), so at bench scale a 32-way
    repartition just multiplies Python round-trips per downstream stage,
    and at real scale parallelism comes from the input's own splits.

    → (part, id_a, id_b, cosine_dist), each part exactly its gate's
    :func:`embedding_dup_pairs` rows."""
    from docarray_spark.functions.distance import pair_distance_udf
    from docarray_spark.functions.localexec import eager_cache
    from docarray_spark.functions.lsh import signatures_gate_udf

    max_tables = max(t for _, t, _ in gates)
    max_thr = max(th for _, _, th in gates)
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("_id"), emb_d.alias("_v")).filter(
        F.col("_v").isNotNull() & (F.size("_v") > 0)
    )
    if dim is None:  # one extra job; pass dim when known
        dim = len(base.select("_v").first()[0])
    sg = signatures_gate_udf(dim, max_tables, num_planes, seed, gate_chunks)
    base = base.persist()
    # one persisted (id, table, sig, gate) table feeds both bucket-join
    # sides; eager_cache materializes base+sigs before the self-join's two
    # map stages race to build them (r12 opt pass 2)
    s = sg("_v")
    sigs = eager_cache(
        base.select(
            "_id", s["gate"].alias("_u"), F.posexplode(s["sigs"]).alias("table", "sig")
        ).persist()
    )
    left = sigs.select(
        F.col("_id").alias("id_a"), F.col("_u").alias("_ua"), "table", "sig"
    )
    right = sigs.select(
        F.col("_id").alias("id_b"), F.col("_u").alias("_ub"), "table", "sig"
    )
    cand = (
        left.join(right, ["table", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.min("table").alias("_mintab"),
            F.first("_ua").alias("_ua"),
            F.first("_ub").alias("_ub"),
        )
    )
    # Cauchy–Schwarz gate, codegen-friendly expanded dot (no HOF fold):
    # keep iff Σ_c ua_c·ub_c > 1 − max_thr − 1e-6 (can't-pass pairs drop
    # before the vector joins; NaN gates — zero-norm vectors — drop too,
    # matching their NULL kernel distance failing every threshold)
    bound = None
    for c in range(1, gate_chunks + 1):
        term = F.element_at("_ua", c) * F.element_at("_ub", c)
        bound = term if bound is None else bound + term
    cand = cand.filter(bound > F.lit(1.0 - max_thr - 1e-6)).drop("_ua", "_ub")
    v_a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    v_b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    pairs = cand.join(v_a, "id_a").join(v_b, "id_b")
    dist = pair_distance_udf("cosine")(F.col("va"), F.col("vb"))
    if round_to is not None:
        dist = F.round(dist, round_to)
    scored = pairs.select("id_a", "id_b", "_mintab", dist.alias("cosine_dist"))
    # per-gate rows unpivot from ONE scored subtree (guide §2.4 — a union
    # of per-gate selects would re-execute the whole verify join per gate)
    parts = F.array(
        *[
            F.when(
                (F.col("_mintab") < F.lit(t)) & (F.col("cosine_dist") < F.lit(th)),
                F.lit(label),
            )
            for label, t, th in gates
        ]
    )
    return (
        scored.select(
            F.explode(F.filter(parts, lambda p: p.isNotNull())).alias("part"),
            "id_a", "id_b", "cosine_dist",
        )
    )


def _propagate_min_labels(Xn, sim_floor, round_to, block_elems):
    """Blockwise min-label propagation over the ``>= sim_floor`` cosine
    similarity graph of the rows of unit-normalized ``Xn`` → int64 root
    label per row (row indices; see semantic_dedup's docstring for the
    memory/sweep analysis). Shared by the single-cell and multi-probe
    passes."""
    import numpy as np

    n = len(Xn)
    labels = np.arange(n, dtype=np.int64)
    bs = max(1, min(n, block_elems // max(1, n)))
    while True:
        new = labels.copy()
        for lo in range(0, n, bs):
            hi = min(n, lo + bs)
            S = Xn[lo:hi] @ Xn.T  # (bs, n)
            if round_to is not None:
                S = np.round(S, round_to)
            nbr = np.where(S >= sim_floor, labels[None, :], n).min(axis=1)
            np.minimum(new[lo:hi], nbr, out=new[lo:hi])
        new = new[new]  # pointer jumping halves label chains
        if (new == labels).all():
            break
        labels = new
    return labels


def semantic_dedup(
    df: DataFrame,
    k_clusters: int = 16,
    eps: float = 0.05,
    id_col: str = "id",
    emb_col: str = "embedding",
    n_iter: int = 3,
    centroids: list[tuple[int, list[float]]] | None = None,
    block_elems: int = 33_554_432,
    max_cell_rows: int = 1_000_000,
    round_to: int | None = None,
    n_probe: int = 1,
    persist: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the published
    semantic-dedup recipe for web-scale training corpora): k-means the
    embedding space, then search for near-duplicates WITHIN each cluster
    only — pairwise work drops from O(n²) to O(Σ cell²) with cells
    bounded by ``k_clusters``, the approximation the paper validates
    (cross-cluster semantic dups are rare by construction).

    → ``(id, cell, dup_group, centroid_dist, keep)``, one row per input
    row — rows whose embedding is null/empty, holds a NULL element or
    differs in length from the centroids cannot participate in
    similarity and come back as ``keep=true`` singletons with null
    ``cell``/``centroid_dist`` (a dedup must never silently drop rows it
    could not compare; ADVICE r8 #4) — a row with a NaN element likewise,
    with ``cell`` -1. For the rest: ``dup_group`` labels
    the connected component of the within-cell ``cosine_dist < eps``
    graph (smallest member id — singletons label themselves); ``keep``
    marks the member retained per the paper's
    keep-LOW-similarity-to-centroid policy (the component member with the
    LARGEST cosine distance to its cluster centroid; deterministic id
    tie-break). ``filter("keep")`` IS the deduplicated corpus;
    ``filter(NOT keep)`` is the semantic-dup drop set.

    Execution shape (Spark-first): ``cluster.kmeans`` trains the
    centroids (deterministic hash-sample init) unless ``centroids=`` is
    passed; assignment is the zero-shuffle ``assign_cells`` map; the per-
    cell pairwise pass is ONE ``applyInArrow`` over ``groupBy(cell)``.
    Inside, components are labelled by BLOCKWISE min-label propagation:
    per sweep, each row-block's gram slice (capped at ``block_elems``
    elements — memory O(block × cell), never O(cell²) at once) masks a
    vectorized neighbor-min, then labels pointer-jump; sweeps repeat to
    fixpoint. No per-pair Python loop and no pair materialization — the
    dup-DENSE cell (every member pairwise-similar, i.e. the exact
    workload dedup targets, with O(cell²) pairs) converges in 2 sweeps;
    only long similarity CHAINS need more (≤ log-diameter with the
    pointer jumping). SIZING: a cell must fit one executor (the same
    per-group contract as every grouped-map operator here) — pick
    ``k_clusters ≈ n / target_cell_rows``; the paper runs 50k clusters
    at web scale for exactly this reason. The contract is ENFORCED:
    a cell larger than ``max_cell_rows`` raises with that law (from
    inside the grouped pass, so the guard costs no extra corpus scan)
    instead of silently OOMing the executor in the gram step (VERDICT
    r8 #2) — raise ``max_cell_rows`` explicitly only if the executor
    can hold O(cell·d) + O(block_elems) doubles.

    ``round_to`` rounds every cosine similarity before the ``eps``
    threshold compare and every ``centroid_dist`` before the keep-policy
    compare (and in the output) — the same decimal pin the other gated
    operators use, so threshold/argmax decisions are reproducible across
    engines (required for the DuckDB oracle gate).

    ``n_probe`` > 1 cuts the paper's cross-cell miss rate: each row is
    assigned to its ``n_probe`` nearest centroids
    (:func:`~docarray_spark.operators.cluster.assign_cells_multi`), the
    within-cell pass runs in every probed cell, and the per-cell group
    labels are unioned into GLOBAL connected components before the keep
    policy — a near-dup pair split across a cell boundary is caught
    whenever any probed cell contains both. Cost is ~n_probe× cell work
    (the fan-out is a map, never a shuffle; the component resolution runs
    on (id, group-label) edges, linear in rows — no all-pairs risk). The
    probed assignment feeds BOTH the component resolution (eager at call
    time) and the returned output plan, so the multi path persists it
    (memory-and-disk) — a corpus-sized cache entry the CALLER owns, like
    ``tfidf_vectors``; pass ``persist=False`` in serving loops to trade
    one extra assignment pass for a cache-clean session (p=1 never
    persists). Multi-probe's assignment accumulates squared distances in
    DIMENSION ORDER at or below ``LITERAL_ARGMIN_MAX_KD`` — the same
    summation order as p=1's literal fold and an oracle's
    ``list_distance``, so near-tie primaries agree (r10 review); above
    the budget the BLAS form takes over with its documented last-ulp
    tie drift (``cluster.cell_sqdist``);
    output columns are unchanged (``cell``/``centroid_dist`` are the
    PRIMARY assignment's). Any id type: non-integral ids are hashed to
    longs for the component pass and groups are re-labelled by smallest
    ORIGINAL id on the way out (see :func:`_semantic_dedup_multi` — the
    r10 integral-id restriction is lifted); ``n_probe=1`` is the paper's
    recipe and remains the oracle-gated contract."""
    import numpy as np
    from pyspark.sql import types as T

    from docarray_spark.operators.cluster import assign_cells, kmeans

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    base = (
        df.select(F.col(id_col).alias("id"), emb_d.alias("v"))
        .filter(F.col("v").isNotNull() & (F.size("v") > 0))
    )
    if centroids is None:
        if int(k_clusters) < 1:
            raise ValueError(
                f"semantic_dedup: k_clusters must be >= 1, got {k_clusters}"
            )
        # train on the null-filtered base, not the raw df — a null/empty
        # embedding picked by the hash-sample init poisons the centroid
        # matrix (found by the ADVICE r8 #4 edge-case test)
        cent_df, _ = kmeans(base, k=k_clusters, n_iter=n_iter,
                            id_col="id", emb_col="v")
        centroids = [
            (r.cell, [float(x) for x in r.centroid]) for r in cent_df.collect()
        ]  # ≤ k_clusters rows — bounded driver state
    cents = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    if not cents:
        # empty centroid list (k==0 passed explicitly, or kmeans over an
        # empty/all-null corpus) would make assign_cells emit cell=-1 and
        # the grouped pass KeyError — fail with the cause (ADVICE r8 #4)
        raise ValueError(
            "semantic_dedup: no centroids — the corpus has no non-empty "
            f"embeddings in {emb_col!r}, or an empty centroids= list was "
            "passed"
        )
    sim_floor = 1.0 - float(eps)
    # only rows functions.vectors.as_matrix accepts at the centroid
    # dimension take part; the rest (null/empty/ragged embedding or a NULL
    # element) come back as keep=true singletons — "one row per input
    # row" holds, and a missing embedding never silently deletes a
    # document (ADVICE r8 #4).
    # Deliberately a SECOND map-only pass over df (columns pruned to
    # id+embedding), not a cell=-1 route through the grouped pass: a
    # corpus where a large fraction of rows lack embeddings would land
    # them all in ONE pandas group — the exact single-executor blowup
    # max_cell_rows exists to prevent — whereas this filter streams.
    has_vec = (
        F.col("v").isNotNull()
        & (F.size("v") == len(cents[0][1]))
        & ~F.exists("v", lambda x: x.isNull())
    )
    base = base.filter(has_vec)
    dropped = (
        df.select(F.col(id_col).alias("id"), emb_d.alias("v"))
        .filter(~has_vec)
        .select(
            "id",
            F.lit(None).cast("int").alias("cell"),
            F.col("id").alias("dup_group"),
            F.lit(None).cast("double").alias("centroid_dist"),
            F.lit(True).alias("keep"),
        )
    )
    if n_probe > 1:
        # branch BEFORE the single-probe broadcast/assignment below — the
        # multi path builds its own; creating them here leaked one dead
        # broadcast per call (r10 review)
        return _semantic_dedup_multi(
            base, cents, n_probe, id_type, sim_floor, round_to,
            block_elems, max_cell_rows, persist=persist,
        ).unionByName(dropped)
    assigned = assign_cells(base, cents)  # (cell, id, v), zero-shuffle
    bc = spark.sparkContext.broadcast(
        {c: np.asarray(v, dtype=np.float64) for c, v in cents}
    )
    out_schema = T.StructType([
        T.StructField("id", id_type),
        T.StructField("cell", T.IntegerType()),
        T.StructField("dup_group", id_type),
        T.StructField("centroid_dist", T.DoubleType()),
        T.StructField("keep", T.BooleanType()),
    ])
    arrow_schema = to_arrow_schema(out_schema)

    def _cell_dedup(tbl):
        ids = tbl.column("id").to_pylist()
        cell = tbl.column("cell")[0].as_py()
        n = len(ids)
        if cell == -1:  # no finite centroid distance (a NaN element):
            # keep=true singletons, as the n_probe > 1 path returns them
            return pa.table({"id": ids, "cell": [cell] * n, "dup_group": ids,
                             "centroid_dist": [None] * n, "keep": [True] * n},
                            schema=arrow_schema)
        if n > max_cell_rows:
            # enforce the sizing law HERE (no extra corpus-count job) so
            # an undersized k_clusters fails loudly with the fix instead
            # of OOMing the executor mid-gram (VERDICT r8 #2; mirrors
            # match()'s query-side budget guard)
            raise ValueError(
                f"semantic_dedup: cell {cell} holds "
                f"{n} rows > max_cell_rows={max_cell_rows}. Size "
                "k_clusters ≈ n_rows / target_cell_rows (SemDeDup runs "
                "50k clusters at web scale), or raise max_cell_rows only "
                "if one executor can hold O(cell·d)+O(block_elems) doubles"
            )
        cv = bc.value[cell]
        Xn = unit_rows(as_matrix(tbl.column("v"), dim=len(cv))[0])
        cn = np.linalg.norm(cv)
        cdist = 1.0 - (Xn @ (cv / cn if cn else cv))
        if round_to is not None:
            # + 0.0 normalizes IEEE negative zero: a row that IS its
            # centroid computes 1 - dot(u, u) = -2e-16, which rounds to
            # -0.0 and str-hashes differently than the oracle's 0.0
            # (latent since r9, caught by the r10 sf0.1 sweep)
            cdist = np.round(cdist, round_to) + 0.0
        # blockwise min-label propagation (vectorized; no per-pair loop):
        # labels start as row indices; each sweep takes, per row, the min
        # label over its >=sim_floor neighbors (diag sim = 1 keeps self),
        # then pointer-jumps. A dup-dense clique converges in one sweep
        # (+1 to detect the fixpoint); chains in <= log-diameter sweeps.
        roots = _propagate_min_labels(Xn, sim_floor, round_to, block_elems)
        # group label = smallest member id; keep = largest centroid_dist
        # (paper's keep-low-similarity-to-centroid), id tie-break
        order = sorted(range(n), key=lambda i: ids[i])
        group_label: dict[int, object] = {}
        for i in order:
            group_label.setdefault(int(roots[i]), ids[i])
        keep_of: dict[int, int] = {}
        for i in order:  # id-ascending → first max wins the tie
            r = int(roots[i])
            if r not in keep_of or cdist[i] > cdist[keep_of[r]]:
                keep_of[r] = i
        kept = {keep_of[r] for r in keep_of}
        return pa.table({
            "id": ids,
            "cell": [cell] * n,
            "dup_group": [group_label[int(roots[i])] for i in range(n)],
            "centroid_dist": cdist,
            "keep": [i in kept for i in range(n)],
        }, schema=arrow_schema)

    labelled = assigned.groupBy("cell").applyInArrow(_cell_dedup, out_schema)
    return labelled.unionByName(dropped)


def _id_hash_col(salt: int):
    """The non-integral→long id mapping column for one salt attempt
    (``xxhash64`` over the stringified id; salts 1+ mix the salt in).
    Module-level seam so the collision-retry path — unreachable without
    an actual 2⁻⁶⁴ collision — can be pinned under test by injecting a
    colliding salt-0 column (VERDICT r11 #5)."""
    sid = F.col("id").cast("string")
    return F.xxhash64(sid) if salt == 0 else F.xxhash64(sid, F.lit(salt))


def _semantic_dedup_multi(
    base: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_probe: int,
    id_type,
    sim_floor: float,
    round_to: int | None,
    block_elems: int,
    max_cell_rows: int,
    persist: bool = True,
) -> DataFrame:
    """The ``n_probe > 1`` path of :func:`semantic_dedup`: multi-probe
    assignment → per-probed-cell min-label propagation emitting
    ``(id, label)`` group edges (label = the cell-group's smallest member
    id, so edges are id→id and LINEAR in probed rows — no pair
    materialization) → global connected components → the paper's keep
    policy as a window over the merged groups.

    Non-integral ids (real corpora key on string doc-ids, r10 VERDICT
    #3): :func:`connected_components`' edge space is (long, long), so
    arbitrary ids are mapped to ``xxhash64(id)`` longs first — one
    map-side column, no sort, no zipWithIndex pass — with a
    collision-count check (two countDistincts over the ids-only
    projection; on the ~n²/2⁶⁴ collision the hash is re-salted and
    re-checked). Components run on the mapped space; the output maps
    back and RE-LABELS each group by its smallest ORIGINAL id (the
    hash-min is meaningless to callers), so p>1 on string ids groups
    exactly like p>1 on the ids' integral pre-images."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from docarray_spark.operators.cluster import assign_cells_multi
    from docarray_spark.operators.components import connected_components

    integral = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    id_map = None
    if not integral:
        for salt in range(4):
            mapped = base.withColumn("_nid", _id_hash_col(salt))
            ck = mapped.agg(
                F.countDistinct("id").alias("a"),
                F.countDistinct("_nid").alias("b"),
            ).first()
            if ck.a == ck.b:
                break
        else:
            # duplicate INPUT ids cannot trip this: countDistinct
            # collapses repeats identically on both sides, so reaching
            # here means a genuine 4-salt hash collision (ADVICE r11)
            raise ValueError(
                "semantic_dedup: xxhash64 id mapping collided under 4 "
                "salts (~n²/2⁶⁴ per salt — a genuine hash collision)"
            )
        # distinct: one map row per ID — an input carrying duplicate ids
        # (one out row per INPUT row) must not fan out through the
        # map-back join (r11 review)
        id_map = mapped.select(F.col("id").alias("_oid"), "_nid").distinct()
        base = mapped.select(F.col("_nid").alias("id"), "v")
        id_type = T.LongType()
    multi = assign_cells_multi(base, cents, n_probe, round_to=round_to)
    if persist:
        # consumed by the eager component resolution AND the returned
        # plan — without this the n_probe-fanned corpus assignment
        # recomputes per consumer (r10 review). Caller-owned lifecycle
        # (corpus-sized output; see the public docstring).
        from pyspark import StorageLevel

        multi = multi.persist(StorageLevel.MEMORY_AND_DISK)
    lbl_schema = T.StructType([
        T.StructField("id", id_type), T.StructField("label", id_type)
    ])
    lbl_arrow = to_arrow_schema(lbl_schema)

    def _cell_labels(tbl):
        n = tbl.num_rows
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dedup: cell {tbl.column('cell')[0].as_py()} holds "
                f"{n} probed rows > max_cell_rows={max_cell_rows} "
                "(multi-probe fans each row into n_probe cells). Size "
                "k_clusters ≈ n_probe · n_rows / target_cell_rows, or "
                "raise max_cell_rows only if one executor can hold "
                "O(cell·d)+O(block_elems) doubles"
            )
        Xn = unit_rows(as_matrix(tbl.column("v"), dim=len(cents[0][1]))[0])
        roots = _propagate_min_labels(Xn, sim_floor, round_to, block_elems)
        ids = tbl.column("id").to_numpy()
        lab = pd.Series(ids).groupby(roots).transform("min").to_numpy()
        return pa.table({"id": ids, "label": lab}, schema=lbl_arrow)

    labels = multi.groupBy("cell").applyInArrow(_cell_labels, lbl_schema)
    edges = labels.filter(F.col("id") != F.col("label"))
    comp = connected_components(edges, src="id", dst="label")
    prim = multi.filter(F.col("_probe") == 0).select(
        "id", "cell", "centroid_dist"
    )
    idt = id_type.simpleString()
    out = (
        prim.join(comp, prim["id"] == comp["node"], "left")
        .select(
            prim["id"].alias("id"),
            "cell",
            F.coalesce(F.col("component"), prim["id"].cast("long"))
            .cast(idt).alias("dup_group"),
            "centroid_dist",
        )
    )
    if id_map is not None:
        # map back: recover the original id, then RE-LABEL each group by
        # its smallest original id (hash-min labels are meaningless to
        # callers; the single-probe path labels by member-id min too).
        # Both windows share the long-group partition key, so Catalyst
        # plans ONE exchange for the relabel + keep policy.
        joined = out.join(id_map, out["id"] == id_map["_nid"], "inner")
        wg = Window.partitionBy("dup_group")
        wkeep = Window.partitionBy("dup_group").orderBy(
            F.col("centroid_dist").desc(), F.col("_oid").asc()
        )
        return joined.select(
            F.col("_oid").alias("id"),
            "cell",
            F.min("_oid").over(wg).alias("_dgroup"),
            "centroid_dist",
            (F.row_number().over(wkeep) == 1).alias("keep"),
        ).select(
            "id", "cell", F.col("_dgroup").alias("dup_group"),
            "centroid_dist", "keep",
        )
    wkeep = Window.partitionBy("dup_group").orderBy(
        F.col("centroid_dist").desc(), F.col("id").asc()
    )
    return out.withColumn("keep", F.row_number().over(wkeep) == 1)


# ------------------------------------------------------- incremental dedup


def history_table(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """The fixed-width dedup-history row for one document: whitespace-
    normalized text fingerprint + the ``num_bands`` r=1 MinHash band
    minima (the exact keys :func:`dedup_against` probes). One row per
    input row, no explode, no shuffle — text reduces to
    ``(id, _fp string, _mh array<long>)`` (+ ``keep_cols`` passthrough),
    which is what a PERSISTED history should store: the probe side then
    never re-reads or re-hashes history text. Band b of shingle hash h is
    ``(h·(2b+1)+b) mod (2^31-1)`` (same universal re-mix as
    :func:`minhash_bands_col`); docs too short to produce a shingle get
    ``[NULL]×num_bands`` minima, which match nothing — consistent with
    :func:`dedup_against`.

    Kernel split like :func:`minhash_dedup_pairs`: per-shingle md5 stays
    JVM-side (codegen), the per-band affine minima are ONE vectorized
    numpy broadcast in an Arrow ``pandas_udf``. A pure-Catalyst nested
    ``transform(sequence(bands), b -> array_min(transform(_hv, …)))``
    is CodegenFallback — interpreted, num_bands·n_shingles lambda evals
    per row — and measured 5.1 s for 4,750 × 48-shingle docs where the
    numpy kernel is ~0.4 s (same trap, same fix as the r3 minhash run)."""
    import numpy as np

    from docarray_spark.operators.text import fingerprint_col

    sh = with_word_shingles(df, text_col, shingle_n).select(
        *(keep_cols or []),
        F.col(id_col),
        fingerprint_col(text_col).alias("_fp"),
        "_sh",
    )
    hv = sh.withColumn(
        "_hv",
        F.transform(
            "_sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ),
    )
    coef = np.arange(num_bands, dtype=np.int64)
    nb = num_bands

    @F.pandas_udf("array<long>")
    def _band_minima(hvs: pd.Series) -> pd.Series:
        out = []
        for h in hvs:
            if h is None or len(h) == 0:
                out.append([None] * nb)
                continue
            a = np.asarray(h, dtype=np.int64)
            out.append(((a[:, None] * (2 * coef + 1) + coef) % _MERSENNE_P).min(axis=0))
        return pd.Series(out)

    return hv.select(
        *(keep_cols or []), id_col, "_fp", _band_minima("_hv").alias("_mh")
    )


def dedup_against_history(
    new_df: DataFrame,
    history: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    min_band_hits: int = 1,
    broadcast_new: bool | None = None,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """:func:`dedup_against` with the history side PRE-REDUCED to its
    :func:`history_table` rows (``_fp``, ``_mh``) — the probe an
    incrementally-maintained history store serves (see
    ``operators/index_store.dedup_refresh``).

    Plan shape: a crawl-batch-sized new side is broadcast; history STREAMS
    through two map-only broadcast joins (fingerprints; exploded band
    minima) and only the matched rows — bounded by the batch's duplicate
    multiplicity — reach the per-id aggregation. History is never
    shuffled, never ``distinct()``-ed, and only its two fixed-width
    columns are read, so probe cost is O(new batch) + one pruned history
    scan. (The first version distinct-ed history's 8·N exploded bands per
    probe — a corpus-sized shuffle that the 1M probe exposed at 95 s; this
    shape is seconds.)

    SIZE GATE (ADVICE r6): broadcasting is only correct while the new
    batch fits the driver/executors — an unconditional ``F.broadcast``
    turned "dedup a large batch" into a broadcast-limit error. With
    ``broadcast_new=None`` (auto) the hashed batch is counted (one cheap
    job over the already-persisted subtree) and batches above
    ``broadcast_threshold`` rows fall back to plain shuffle equi-joins on
    the same fixed-width keys — handles arbitrarily large batches at the
    honest cost of shuffling history's two columns. Pass ``True``/
    ``False`` to skip the count when the caller knows the batch size
    (``index_store.dedup_against_store`` micro-batches pass auto).

    ``n_band_hits`` counts DISTINCT colliding bands, identical to the
    distinct-pair formulation because a query doc has exactly one minhash
    per band. Output contract identical to :func:`dedup_against`.

    Cache lifetime: the hashed new batch (``new_h``) is persisted — both
    join builds read it, and un-persisted each would re-run the batch's
    shingle/md5/minima chain (minhash_dedup_pairs precedent). It is
    catalog-tracked, so ``spark.catalog.clearCache()`` releases it; the
    returned plan stays lazy, so the operator itself cannot unpersist
    (the blocks are evictable cache, not pinned checkpoint storage)."""
    new_h = history_table(
        new_df, id_col=id_col, text_col=text_col,
        shingle_n=shingle_n, num_bands=num_bands,
    ).persist()
    if broadcast_new is None:
        broadcast_new = new_h.count() <= broadcast_threshold
    _hint = F.broadcast if broadcast_new else (lambda d: d)
    # both match kinds in ONE streamed pass + ONE per-id aggregation:
    # fingerprint matches tagged _band = -1, band matches carry their band
    fp_matches = (
        history.select("_fp")
        .join(_hint(new_h.select(F.col(id_col), "_fp")), "_fp")
        .select(F.col(id_col), F.lit(-1).alias("_band"))
    )
    band_matches = (
        history.select(F.posexplode("_mh").alias("_band", "_mh"))
        .join(
            _hint(
                new_h.select(F.col(id_col), F.posexplode("_mh").alias("_band", "_mh"))
            ),
            ["_band", "_mh"],
        )
        .select(F.col(id_col), F.col("_band"))
    )
    agg = (
        fp_matches.unionByName(band_matches)
        .groupBy(id_col)
        .agg(
            F.max(F.col("_band") == -1).alias("_e"),
            F.count_distinct(
                F.when(F.col("_band") >= 0, F.col("_band"))
            ).cast("long").alias("_nb"),
        )
    )
    # output base = raw ids (no re-hashing of the new batch for the join)
    return new_df.select(F.col(id_col)).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("_e", F.lit(False)).alias("is_exact_dup"),
        F.coalesce("_nb", F.lit(0)).alias("n_band_hits"),
        (F.coalesce("_nb", F.lit(0)) >= min_band_hits).alias("is_near_dup"),
    )


def dedup_against(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    min_band_hits: int = 1,
) -> DataFrame:
    """Incremental (cross-corpus) dedup: flag rows of ``new_df`` that
    duplicate the already-ingested ``seen_df`` — the "dedup this crawl
    against all previous crawls" operator a continuously-growing corpus
    needs (within-batch dedup alone re-admits anything history already
    contains). No reference counterpart; first-class extension beside the
    within-corpus passes above.

    Two probes, both equi-joins on fixed-width keys (history never ships
    text through a shuffle — it reduces to md5 fingerprints and per-band
    minhash minima, which AQE broadcasts when they fit):

    - exact: whitespace-normalized text fingerprint present in history;
    - near:  ``n_band_hits`` = how many of the document's ``num_bands``
      r=1 MinHash band values collide with ANY history document's same
      band (P(single-band collision) = Jaccard). ``is_near_dup`` when
      ≥ ``min_band_hits`` — raise it to trade recall for precision.

    Batch size is unconstrained: the delegate auto-gates its broadcast of
    the new side (see :func:`dedup_against_history`'s size gate) — small
    batches take the map-only broadcast-probe plan, large ones fall back
    to shuffle equi-joins.

    → every ``new_df`` row: ``(id_col, is_exact_dup, n_band_hits,
    is_near_dup)``.
    """
    return dedup_against_history(
        new_df,
        history_table(
            seen_df, id_col=id_col, text_col=text_col,
            shingle_n=shingle_n, num_bands=num_bands,
        ).select("_fp", "_mh"),
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_bands=num_bands,
        min_band_hits=min_band_hits,
    )


# --------------------------------------------------- exact-substring spans

def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    id_col: str = "id",
    text_col: str = "text",
    hash_method: str = "md5",
) -> DataFrame:
    """Exact-substring duplicate detection (the semantics of Lee et al.
    2022, *Deduplicating Training Data Makes Language Models Better* —
    suffix-array exact substrings ≥ W tokens, re-expressed relationally):
    every ``window``-token run whose text occurs MORE than once in the
    corpus marks a duplicated region, EXCEPT at its globally first
    occurrence (smallest ``(id, start)``), which is kept. Overlapping
    marked windows merge into maximal spans (gaps-and-islands over the
    start positions).

    → ``(id, span_start, span_end)`` — token-index spans, end exclusive.

    Scale shape: the explode is ``n_tokens`` rows/doc but carries ONLY
    (id, start, hash) — never window text; the count shuffle keys on the
    fixed-width hash; the island merge is one exchange by ``id``. That
    linear blow-up is the honest cost of exact-substring semantics (the
    suffix array pays the same n log n); paragraph/winnowing dedup remain
    the cheaper approximations.

    Window hashes are 60-bit (the md5-conv BIGINT ceiling): a 32-bit hash
    birthday-collides at corpus scale — the 1M-doc probe (53M windows)
    produced ~300k spurious window pairs and wrongly cut 2.5M tokens.
    At 60 bits the expected collision count for 53M windows is ~0.001;
    collisions FALSELY REMOVE text, so the width is a correctness dial,
    not a perf one."""
    from docarray_spark.functions.hashing import hash_bits_sql

    # array_remove(_, ''): split of EMPTY/whitespace-only text yields ['']
    # (size 1) while the oracle's list_filter drops empty tokens (size 0) —
    # blank docs must tokenize to [] on both sides (ADVICE r5)
    toks = F.array_remove(tokens_col(text_col), "")
    base = (
        _ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), toks.alias("_t"))
        .filter(F.size("_t") >= window)
    )
    # (id, start, whash): hash of the W-token run starting at `start`.
    # posexplode_OUTER: a plain posexplode gets an inferred size(...)>0
    # filter below the Generate, and pushdown inlines _t's tokenize
    # expression into the slice lambda — re-tokenizing per WINDOW, O(W²)
    # per doc (the explode-inlining trap, r9 NOTES). Outer generates are
    # exempt; base's size filter already guarantees ≥1 window per row.
    if hash_method == "md5":
        # window assembly + hash in one Arrow pass: the transform/slice/
        # array_join HOF chain evaluates INTERPRETED per window (r12 stage
        # profile: ~24 s of task time at sf0.1) — the Python mirror emits
        # the IDENTICAL 60-bit md5 values (int of the first 15 hex chars
        # == conv(substring(md5(w),1,15),16,10); 4·15 = 60 so no pmod),
        # so grouping, collisions and spans are bit-for-bit unchanged.
        import hashlib

        _w = window

        @F.pandas_udf("array<long>")
        def _whashes(toks: pd.Series) -> pd.Series:
            # per-token utf-8 encode hoisted out of the window loop (each
            # token was re-encoded ~W times inside the joined string), and
            # the 60-bit value read straight off the digest bytes:
            # int.from_bytes(digest[:8]) >> 4 == int(hexdigest[:15], 16)
            # (15 hex chars = 60 bits = first 7.5 bytes) — no hex string.
            # r13: the W-token join itself is hoisted too — the whole doc
            # joins ONCE and each window hashes a memoryview slice of that
            # buffer: b" ".join(bts[s:s+W]) == buf[starts[s]:ends[s+W-1]]
            # byte-for-byte (single-space joins are contiguous), so every
            # hash input byte is unchanged (pinned in
            # test_dedup.test_whash_kernel_matches_str_form) while the
            # per-window W-element list slice + join allocation disappears.
            from itertools import accumulate

            md5 = hashlib.md5
            out = []
            for ts in toks:
                n = len(ts) - _w + 1
                bts = [t.encode("utf-8") for t in ts]
                buf = b" ".join(bts)
                # plain-list offsets (numpy scalar indexing costs more per
                # window than it saves here): bound[i] = end of token i + 1
                bound = list(accumulate(len(b) + 1 for b in bts))
                starts = [0]
                starts.extend(bound[:-1])
                mv = memoryview(buf)
                out.append(np.fromiter(
                    (
                        int.from_bytes(md5(mv[a : e - 1]).digest()[:8], "big")
                        >> 4
                        for a, e in zip(starts, bound[_w - 1:])
                    ),
                    dtype=np.int64, count=n,
                ))
            return pd.Series(out)

        wins = base.select(
            "id", F.posexplode_outer(_whashes("_t")).alias("start", "whash")
        ).filter(F.col("whash").isNotNull())
    else:
        wins = base.select(
            "id",
            F.posexplode_outer(
                F.expr(
                    f"transform(sequence(0, size(_t) - {window}), s -> "
                    f"array_join(slice(_t, s + 1, {window}), ' '))"
                )
            ).alias("start", "_wtext"),
        ).filter(F.col("_wtext").isNotNull()).select(
            "id", "start",
            F.expr(hash_bits_sql("_wtext", 60, hash_method)).alias("whash"),
        )
    # duplicated occurrences, first kept. Window aggregates over the whash
    # exchange instead of groupBy + join-back: the join-back form evaluated
    # the `wins` subtree — the expensive window-hash map — TWICE (once into
    # the count aggregate, once into the join probe side; ~14 s of task
    # time per evaluation at sf0.1, r12 opt pass 2). Both forms hash-
    # partition the same (id, start, whash) rows once; count/min over the
    # whole whash partition are exactly the old aggregate values, so the
    # marked set is bit-for-bit unchanged. Per-partition window state is
    # one hash's occurrence list — bounded by the duplication factor, the
    # same bound the old aggregate row carried.
    from pyspark.sql import Window as W

    wh = W.partitionBy("whash")
    marked = (
        wins.withColumn("_n", F.count(F.lit(1)).over(wh))
        .withColumn("_first", F.min(F.struct("id", "start")).over(wh))
        .filter(F.col("_n") > 1)
        .filter(~((F.col("id") == F.col("_first.id")) & (F.col("start") == F.col("_first.start"))))
        .select("id", "start", (F.col("start") + window).alias("end"))
    )
    # gaps-and-islands: a window starts a new span iff it begins after the
    # running max end of all previous windows in the doc

    order = W.partitionBy("id").orderBy("start")
    prev_max_end = F.max("end").over(order.rowsBetween(W.unboundedPreceding, -1))
    islands = (
        marked.withColumn(
            "_new", F.when(prev_max_end.isNull() | (F.col("start") > prev_max_end), 1).otherwise(0)
        )
        .withColumn("_island", F.sum("_new").over(order))
    )
    return (
        islands.groupBy("id", "_island")
        .agg(F.min("start").alias("span_start"), F.max("end").alias("span_end"))
        .select("id", "span_start", "span_end")
    )


def remove_duplicate_spans(
    df: DataFrame,
    window: int = 8,
    id_col: str = "id",
    text_col: str = "text",
    hash_method: str = "md5",
) -> DataFrame:
    """Rewrite each document with its duplicated spans cut out
    (:func:`duplicate_spans` policy: globally first occurrence survives).
    → original columns with ``text_col`` replaced by the deduplicated
    token join and ``n_removed_tokens`` appended. Documents shorter than
    ``window`` tokens or containing no duplicated window pass through
    unchanged (n_removed_tokens = 0)."""
    spans = duplicate_spans(df, window, id_col, text_col, hash_method)
    spans_per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.array_remove(tokens_col(text_col), "")
    joined = df.join(
        spans_per_doc.withColumnRenamed("id", id_col), id_col, "left"
    )
    keep_tok = (
        f"filter(transform(_t2, (t, i) -> IF(exists(_spans, s -> "
        f"i >= s.span_start AND i < s.span_end), NULL, t)), t -> t IS NOT NULL)"
    )
    out = (
        joined.withColumn("_t2", toks)
        .withColumn(
            "_kept",
            F.when(F.col("_spans").isNull(), F.col("_t2")).otherwise(F.expr(keep_tok)),
        )
        .withColumn("n_removed_tokens", F.size("_t2") - F.size("_kept"))
        .withColumn(text_col, F.array_join("_kept", " "))
        .drop("_t2", "_kept", "_spans")
    )
    return out
