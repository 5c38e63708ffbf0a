import numpy as np
import pytest
from pyspark.sql import functions as F

from docarray_spark.operators import (
    ngram_jaccard_exact_pairs,
    dup_groups,
    embedding_dup_pairs,
    exact_dedup,
    jaccard_col,
    minhash_dedup_pairs,
    simhash_col,
    simhash_dup_pairs,
    word_shingles_col,
)

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def make_text(rng, n=30):
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        t = make_text(rng)
        rows.append((f"d{i:02d}", t))
        if i % 10 == 0:  # near-dup: drop first 3 words
            rows.append((f"d{i:02d}x", " ".join(t.split()[3:])))
    rows.append(("dup1", rows[0][1]))  # exact dup of d00
    return spark.createDataFrame(rows, "id string, text string")


def test_exact_dedup(spark, corpus):
    out = exact_dedup(corpus, ["text"])
    assert out.count() == corpus.count() - 1
    assert out.filter("id = 'dup1'").count() == 0  # min id kept
    groups = dup_groups(corpus, ["text"]).collect()
    assert len(groups) == 1 and groups[0].dup_count == 2 and groups[0].canonical_id == "d00"


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("x", "a b c d e", "a b c d x")], "id string, t1 string, t2 string")
    row = df.select(
        word_shingles_col("t1", 3).alias("s1"), word_shingles_col("t2", 3).alias("s2")
    ).select(jaccard_col(F.col("s1"), F.col("s2")).alias("j")).collect()[0]
    # shingles t1: {abc,bcd,cde}, t2: {abc,bcd,cdx} → J = 2/4
    assert row.j == pytest.approx(0.5)


def test_minhash_finds_planted_neardups(spark, corpus):
    pairs = minhash_dedup_pairs(corpus, shingle_n=3, num_bands=16, threshold=0.5).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for i in range(0, 60, 10):
        assert (f"d{i:02d}", f"d{i:02d}x") in found, f"planted near-dup d{i:02d} missed"
    # exact dup also found with jaccard 1.0
    assert ("d00", "dup1") in found


def test_ngram_jaccard_exact_pairs(spark, corpus):
    exact = ngram_jaccard_exact_pairs(corpus, shingle_n=3, threshold=0.5).toPandas()
    found = {(a, b): j for a, b, j in zip(exact.id_a, exact.id_b, exact.jaccard)}
    for i in range(0, 60, 10):
        assert (f"d{i:02d}", f"d{i:02d}x") in found
    assert found[("d00", "dup1")] == pytest.approx(1.0)
    # exact is ground truth: every LSH-found pair appears with the same jaccard
    lsh = minhash_dedup_pairs(corpus, shingle_n=3, num_bands=16, threshold=0.5).toPandas()
    for a, b, j in zip(lsh.id_a, lsh.id_b, lsh.jaccard):
        assert found[(a, b)] == pytest.approx(j)
    # brute-force check one planted pair's value
    row = corpus.filter(F.col("id").isin("d00", "d00x")).select(
        word_shingles_col("text", 3).alias("s")
    ).collect()
    s1, s2 = set(row[0].s), set(row[1].s)
    assert found[("d00", "d00x")] == pytest.approx(len(s1 & s2) / len(s1 | s2))


def test_ngram_jaccard_max_df_prunes(spark, corpus):
    # d00's shingles live in {d00, d00x, dup1} → df ≤ 3 unless shared by
    # chance; max_df=3 drops only chance-shared shingles, so the identical
    # pair keeps J = 1.0 (intersection and sizes shrink together)
    pruned = ngram_jaccard_exact_pairs(
        corpus, shingle_n=3, threshold=0.99, max_df=3
    ).toPandas()
    found = {(a, b): j for a, b, j in zip(pruned.id_a, pruned.id_b, pruned.jaccard)}
    assert found[("d00", "dup1")] == pytest.approx(1.0)
    # a too-aggressive cap empties the posting list entirely: no pairs, no crash
    empty = ngram_jaccard_exact_pairs(corpus, shingle_n=3, threshold=0.0, max_df=0)
    assert empty.count() == 0


def test_simhash_value_and_pairs(spark, corpus):
    vals = corpus.select("id", simhash_col("text", 16).alias("sh")).collect()
    assert all(0 <= r.sh < 2**16 for r in vals)
    # deterministic
    vals2 = corpus.select("id", simhash_col("text", 16).alias("sh")).collect()
    assert {r.id: r.sh for r in vals} == {r.id: r.sh for r in vals2}
    pairs = simhash_dup_pairs(corpus, bits=32, max_hamming=3, num_bands=4).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert ("d00", "dup1") in found  # identical text → hamming 0
    assert (pairs.hamming <= 3).all()
    # NULL text fingerprints to 0 — the pre-r9 per-bit form's value; a
    # streaming dedup state store keyed on this column must not see the
    # key change across the single-pass rewrite (review r9)
    nul = spark.createDataFrame(
        [("x", None)], "id string, text string"
    ).select(simhash_col("text", 16).alias("sh")).first()
    assert nul.sh == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(3)
    mat = rng.randn(80, 24)
    rows = [(f"v{i:02d}", [float(x) for x in mat[i]]) for i in range(80)]
    # planted near-dups: tiny perturbation
    for i in range(0, 80, 16):
        rows.append((f"v{i:02d}x", [float(x + 0.01) for x in mat[i]]))
    return spark.createDataFrame(rows, "id string, embedding array<double>")


def test_embedding_dups_exact(spark, vectors):
    pairs = embedding_dup_pairs(vectors, threshold=0.05, method="exact").toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert {(f"v{i:02d}", f"v{i:02d}x") for i in range(0, 80, 16)} <= found


def test_embedding_dups_lsh_recall(spark, vectors):
    exact = embedding_dup_pairs(vectors, threshold=0.05, method="exact").toPandas()
    lsh = embedding_dup_pairs(
        vectors, threshold=0.05, method="lsh", num_planes=10, num_tables=6
    ).toPandas()
    e = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    l = {(a, b) for a, b in zip(lsh.id_a, lsh.id_b)}
    assert l <= e  # no false positives (verified)
    assert len(l) >= 0.8 * len(e)  # recall of the S-curve at theta≈0.05


def test_embedding_dup_pairs_max_bucket_drops_hot_buckets(spark):
    """Hot-bucket guard: 40 identical vectors share every signature bucket
    (a degenerate O(n²) join at scale); with max_bucket they're dropped
    while a normal near-dup pair elsewhere is still found."""
    from docarray_spark.operators.dedup import embedding_dup_pairs

    rows = [(i, [0.0, 0.0, 1.0, 1.0]) for i in range(40)]          # hot bucket
    rows += [(100, [5.0, -3.0, 2.0, 0.5]), (101, [5.0, -3.0, 2.0, 0.501])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    capped = embedding_dup_pairs(
        df, threshold=0.01, method="lsh", num_planes=6, num_tables=8,
        dim=4, max_bucket=10,
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in got
    assert not any(a < 40 and b < 40 for a, b in got)  # hot bucket dropped
    # without the cap the degenerate pairs flood back (40*39/2 of them)
    full = embedding_dup_pairs(
        df, threshold=0.01, method="lsh", num_planes=6, num_tables=8, dim=4,
    ).count()
    assert full == 40 * 39 // 2 + 1


def test_text_lsh_max_bucket_guards(spark):
    """Hot-bucket caps on the TEXT banded joins: a 30-doc identical cohort
    (one bucket per band) is excluded; a distinct near-dup pair outside
    the cohort still surfaces."""
    from docarray_spark.operators.dedup import minhash_dedup_pairs, simhash_dup_pairs

    cohort = [(i, "spam spam wonderful spam lovely spam spam spam same page") for i in range(30)]
    pair = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
    ]
    df = spark.createDataFrame(cohort + pair, "id long, text string")
    mh = minhash_dedup_pairs(
        df, shingle_n=2, num_bands=8, threshold=0.4, max_bucket=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in mh}
    assert (100, 101) in got
    assert not any(a < 30 and b < 30 for a, b in got)
    sh = simhash_dup_pairs(
        df, "id", "text", bits=32, max_hamming=3, num_bands=4, max_bucket=10
    ).collect()
    got2 = {(r.id_a, r.id_b) for r in sh}
    assert not any(a < 30 and b < 30 for a, b in got2)


def test_simhash_wide_bits_use_high_bits(spark):
    """r3 scale run: a 32-bit token-hash prefix made fingerprint bits 32+
    constant zero, so bits=64 silently degenerated to 256-value band
    slices (800-doc buckets at 200k docs). Wide fingerprints must populate
    the high bits and band into wide slices."""
    from docarray_spark.operators.dedup import simhash_dup_pairs, simhash_table

    df = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 31 + j) % 97}" for j in range(20))) for i in range(200)],
        "id long, text string",
    )
    fp = simhash_table(df, "id", "text", bits=48)
    high = fp.filter("simhash >= cast(pow(2, 32) as bigint)").count()
    assert high > 0  # bits 32+ actually vary
    # banded pairs at 48 bits / 4 bands = 12-bit slices still work
    pairs = simhash_dup_pairs(df, "id", "text", bits=48, max_hamming=3, num_bands=4)
    assert pairs.count() >= 0  # executes; bucket keys are 12-bit values
    with pytest.raises(ValueError, match="60"):
        simhash_table(df, "id", "text", bits=64).collect()


def test_hot_bucket_cap_bounds_banded_joins(spark):
    """VERDICT r3 #8: one pathological cohort (10k identical docs) lands
    in a single (band, minhash) bucket — uncapped, the candidate join
    goes quadratic (~50M pairs for this cohort alone). The cap must keep
    the operator bounded, still find the planted normal near-dup, and
    route the hot cohort out (exact dedup collapses it anyway)."""
    from docarray_spark.operators.dedup import minhash_dedup_pairs, simhash_dup_pairs

    hot = "common boilerplate page repeated verbatim across the entire crawl"
    rows = [(i, hot) for i in range(10_000)]
    rows += [
        (20_000 + i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(50)
    ]
    base = ("the quick brown fox jumps over the lazy dog and runs into the "
            "deep green forest where tall trees grow near the river")
    rows += [(30_000, base), (30_001, base.replace("lazy", "sleepy"))]
    df = spark.createDataFrame(rows, "id long, text string")

    pairs = minhash_dedup_pairs(df, num_bands=8, threshold=0.5, max_bucket=100)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (30_000, 30_001) in got
    hot_pairs = [p for p in got if p[0] < 20_000 and p[1] < 20_000]
    assert not hot_pairs, f"cap leaked {len(hot_pairs)} hot-cohort pairs"
    # explicit output budget: without the cap this would be ~50M pairs
    assert len(got) < 5_000

    spairs = simhash_dup_pairs(
        df, bits=48, max_hamming=3, num_bands=4, max_bucket=100
    )
    sgot = {(r.id_a, r.id_b) for r in spairs.collect()}
    s_hot = [p for p in sgot if p[0] < 20_000 and p[1] < 20_000]
    assert not s_hot and len(sgot) < 5_000


def test_simhash_multi_slice_bands_match_single(spark):
    """slices_per_band=2 keeps the pigeonhole guarantee: the same verified
    pair set as r=1 on a fixture where every near-dup is within
    max_hamming (composite keys only change CANDIDATE generation)."""
    from docarray_spark.operators.dedup import simhash_dup_pairs

    words = [f"word{i}x" for i in range(120)]
    base = " ".join(words)
    rows = [(1, base), (2, " ".join(w if i != 60 else "zz" for i, w in enumerate(words)))]
    rows += [(10 + i, " ".join(f"u{i}t{j}" for j in range(60))) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string")
    r1 = {(r.id_a, r.id_b, r.hamming) for r in simhash_dup_pairs(
        df, bits=48, max_hamming=3, num_bands=6).collect()}
    r2 = {(r.id_a, r.id_b, r.hamming) for r in simhash_dup_pairs(
        df, bits=48, max_hamming=3, num_bands=6, slices_per_band=2).collect()}
    # r=2 has strictly fewer candidates but identical VERIFIED recall here
    assert (1, 2) in {(a, b) for a, b, _ in r2}
    assert r2 <= r1 and {(a, b) for a, b, _ in r1 if a == 1} <= {(a, b) for a, b, _ in r2}


def test_simhash_multi_slice_pigeonhole_guard(spark):
    from docarray_spark.operators.dedup import simhash_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_dup_pairs(df, bits=48, max_hamming=5, num_bands=6, slices_per_band=2)


# ----------------------------------------- exact-substring span dedup (r5)

def test_duplicate_spans_first_occurrence_and_merge(spark):
    """Lee-et-al-style exact-substring semantics: a 9-token phrase shared
    by three docs survives only at its globally first occurrence; the two
    overlapping 8-windows it generates merge into ONE maximal span."""
    from docarray_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "intro words then the quick brown fox jumps over the lazy dog and more text"),
        (3, "completely unrelated content with no repeats at all in this sentence okay"),
        (4, "prefix the quick brown fox jumps over the lazy dog suffix one two three four"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    spans = sorted(tuple(r) for r in duplicate_spans(df, window=8).collect())
    assert spans == [(2, 3, 12), (4, 1, 10)]  # doc 1 = first occurrence, kept

    out = {r.id: (r.text, r.n_removed_tokens)
           for r in remove_duplicate_spans(df, window=8).collect()}
    assert out[1][1] == 0 and out[3][1] == 0           # untouched
    assert out[2] == ("intro words then and more text", 9)
    assert out[4] == ("prefix suffix one two three four", 9)
    # total token mass is conserved: kept + removed = original
    for i, text in rows:
        kept = len(out[i][0].split()) if out[i][0] else 0
        assert kept + out[i][1] == len(text.split())


def test_duplicate_spans_within_one_document(spark):
    """A phrase repeated INSIDE one document: second occurrence removed."""
    from docarray_spark.operators.dedup import remove_duplicate_spans

    phrase = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, f"{phrase} middle filler words go here now {phrase}")],
        "id long, text string",
    )
    out = remove_duplicate_spans(df, window=8).first()
    assert out.n_removed_tokens == 8
    assert out.text == f"{phrase} middle filler words go here now"


def test_duplicate_spans_short_docs_pass_through(spark):
    from docarray_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], "id long, text string"
    )
    out = {r.id: r.n_removed_tokens for r in remove_duplicate_spans(df, window=8).collect()}
    assert out == {1: 0, 2: 0}  # below the window, never candidates


def test_duplicate_spans_properties_random_corpora(spark):
    """Property pins on random corpora (hypothesis-style, fixed seeds for
    Spark-session economy): (1) token mass conserved — kept + removed =
    original per doc; (2) determinism across runs; (3) the globally first
    occurrence of every duplicated window survives somewhere (its doc
    loses no tokens from THAT span). NOTE idempotence is deliberately NOT
    asserted: cutting a span concatenates its flanks, which can mint new
    windows — inherent to token-rebuild semantics, same as the reference
    approach's document."""
    import random

    from docarray_spark.operators.dedup import remove_duplicate_spans

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(30)]   # small vocab -> real repeats
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        out1 = {r.id: (r.text, r.n_removed_tokens)
                for r in remove_duplicate_spans(df, window=6).collect()}
        out2 = {r.id: (r.text, r.n_removed_tokens)
                for r in remove_duplicate_spans(df, window=6).collect()}
        assert out1 == out2                              # deterministic
        for i, text in rows:
            kept = len(out1[i][0].split()) if out1[i][0] else 0
            assert kept + out1[i][1] == len(text.split()), (seed, i)
        # something must survive globally: not every doc can be emptied
        assert any(v[0] for v in out1.values())


def test_duplicate_spans_blank_docs_zero_tokens(spark):
    """Blank / whitespace-only text tokenizes to [] on the spans path —
    split alone yields [''] (size 1) while the oracle's list_filter drops
    empty tokens, so units_total would diverge by 1 (ADVICE r5)."""
    from pyspark.sql import functions as F

    from docarray_spark.operators.dedup import remove_duplicate_spans
    from docarray_spark.operators.text import tokens_col

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b c d e f g h")], "id long, text string"
    )
    out = {
        r.id: (r.text, r.n_removed_tokens)
        for r in remove_duplicate_spans(df, window=8).collect()
    }
    assert out[1] == ("", 0) and out[2] == ("", 0)
    assert out[3][1] == 0  # unique window, nothing removed
    ntok = df.select(
        "id", F.size(F.array_remove(tokens_col("text"), "")).alias("n")
    )
    assert {r.id: r.n for r in ntok.collect()} == {1: 0, 2: 0, 3: 8}


def test_semantic_dedup_groups_and_keep_policy(spark):
    """SemDeDup composition: tight trios of near-identical embeddings
    collapse to one within-cell dup group each; exactly one member is
    kept (the largest centroid distance, id tie-break); the result is
    partitioning-invariant; an eps below the trio spread keeps everything."""
    import numpy as np

    from docarray_spark.operators import semantic_dedup

    rows = []
    for d in range(10):
        base = np.random.RandomState(100 + d).randn(8)
        for c in range(3):
            v = base + 0.001 * np.random.RandomState(1000 + d * 3 + c).randn(8)
            rows.append((d * 3 + c, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    out = semantic_dedup(df, k_clusters=3, eps=0.05).toPandas()
    assert len(out) == 30 and out["id"].nunique() == 30
    # each trio is one group labelled by its smallest id
    for d in range(10):
        grp = out[out["id"].isin([d * 3, d * 3 + 1, d * 3 + 2])]
        assert set(grp["dup_group"]) == {d * 3}, d
        kept = grp[grp["keep"]]
        assert len(kept) == 1
        # keep policy: the member farthest from its cluster centroid
        assert kept["centroid_dist"].iloc[0] == grp["centroid_dist"].max()
    assert out["keep"].sum() == 10

    # partitioning invariance (per-cell math must not depend on input split)
    a = semantic_dedup(df.repartition(1), k_clusters=3, eps=0.05).toPandas()
    b = semantic_dedup(df.repartition(7), k_clusters=3, eps=0.05).toPandas()
    cols = ["id", "cell", "dup_group", "keep"]
    assert (
        a[cols].sort_values("id").reset_index(drop=True).equals(
            b[cols].sort_values("id").reset_index(drop=True))
    )

    # eps below the trio spread → everything is its own group, all kept
    solo = semantic_dedup(df, k_clusters=3, eps=1e-12).toPandas()
    assert solo["keep"].all() and solo["dup_group"].nunique() == 30


def test_semantic_dedup_multi_probe_catches_cross_cell_dup(spark):
    """VERDICT r9 #4: a near-dup pair straddling a cell boundary is the
    paper's documented approximation miss at n_probe=1; assigning each
    row to its 2 nearest centroids and unioning the per-cell group labels
    into global components catches it. Fixed centroids pin the boundary;
    the planted pair (ids 0, 1) sits at cos-sim ≈ 0.9963 (> 1−eps) but
    with PRIMARY cells on opposite sides."""
    import numpy as np

    from docarray_spark.operators import semantic_dedup

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [
        (0, [0.74, 0.6786]),  # primary cell 0, second-nearest cell 1
        (1, [0.6786, 0.74]),  # primary cell 1 — the cross-boundary twin
        (2, [1.0, 0.05]),     # deep in cell 0
        (3, [0.05, 1.0]),     # deep in cell 1
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    p1 = semantic_dedup(
        df, centroids=cents, eps=0.01, round_to=6
    ).toPandas().set_index("id").sort_index()
    p2 = semantic_dedup(
        df, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().set_index("id").sort_index()

    # n_probe=1 misses the pair (separate cells -> separate groups)
    assert p1.loc[0, "dup_group"] == 0 and p1.loc[1, "dup_group"] == 1
    assert p1["keep"].all()
    # n_probe=2 merges it; singletons and primary cells are untouched
    assert p2.loc[0, "dup_group"] == 0 and p2.loc[1, "dup_group"] == 0
    assert p2.loc[[0, 1], "keep"].sum() == 1  # one survivor per group
    assert p2.loc[2, "dup_group"] == 2 and p2.loc[3, "dup_group"] == 3
    assert p2.loc[2, "keep"] and p2.loc[3, "keep"]
    assert p2["cell"].tolist() == [0, 1, 0, 1]  # PRIMARY assignment
    assert len(p2) == 4
    # centroid_dist is the primary-cell cosine distance, BIT-IDENTICAL
    # to p=1's (ADVICE r10: both modes share one BLAS dot form now —
    # allclose would hide a half-ulp flip at a round_to boundary)
    assert p2["centroid_dist"].tolist() == p1["centroid_dist"].tolist()

    # partitioning invariance of the multi-probe path
    a = semantic_dedup(
        df.repartition(1), centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)
    b = semantic_dedup(
        df.repartition(5), centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)
    assert a[["id", "cell", "dup_group", "keep"]].equals(
        b[["id", "cell", "dup_group", "keep"]]
    )

    # with no cross-cell dups, n_probe=2 reduces to the n_probe=1 result
    trio_rows = []
    for d in range(6):
        base = np.random.RandomState(100 + d).randn(8)
        for c in range(3):
            v = base + 0.001 * np.random.RandomState(500 + d * 3 + c).randn(8)
            trio_rows.append((d * 3 + c, [float(x) for x in v]))
    trio = spark.createDataFrame(trio_rows, "id long, embedding array<double>")
    cols = ["id", "cell", "dup_group", "keep"]
    one = semantic_dedup(trio, k_clusters=3, eps=0.05).toPandas()[
        cols].sort_values("id", ignore_index=True)
    two = semantic_dedup(trio, k_clusters=3, eps=0.05, n_probe=2).toPandas()[
        cols].sort_values("id", ignore_index=True)
    assert one.equals(two)

    # cache lifecycle: the multi path persists its probed assignment
    # (caller-owned, tfidf precedent); persist=False keeps the session
    # cache clean at the cost of one extra assignment pass
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    clean = semantic_dedup(
        df, centroids=cents, eps=0.01, round_to=6, n_probe=2,
        persist=False,
    ).toPandas().set_index("id").sort_index()
    assert len(jsc.getRDDStorageInfo()) == before
    assert clean["dup_group"].tolist() == p2["dup_group"].tolist()


def test_multi_probe_centroid_dist_hash_exact_vs_single(spark, sf_dir):
    """ADVICE r10: assign_cells_multi's primary centroid_dist must use
    the SAME summation order as the single-probe path (per-cell BLAS
    matrix@vector) — over a real 64-d corpus every rounded value must be
    string-identical between modes, the hash-compare the driver runs."""
    from pyspark.sql import functions as F

    from docarray_spark.operators import kmeans, semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>")
        .alias("embedding"),
    )
    cent_df, _ = kmeans(emb, k=8, n_iter=2, id_col="id",
                        emb_col="embedding")
    cents = [(int(r.cell), list(r.centroid)) for r in cent_df.collect()]
    p1 = semantic_dedup(
        emb, centroids=cents, eps=0.05, round_to=6
    ).toPandas().sort_values("id", ignore_index=True)
    p3 = semantic_dedup(
        emb, centroids=cents, eps=0.05, round_to=6, n_probe=3
    ).toPandas().sort_values("id", ignore_index=True)
    assert p1["cell"].tolist() == p3["cell"].tolist()
    a = [str(x) for x in p1["centroid_dist"]]
    b = [str(x) for x in p3["centroid_dist"]]
    assert a == b


def test_multi_probe_string_ids_pinned_to_integral(spark):
    """VERDICT r10 #3: the multi-probe integral-id restriction is lifted
    — arbitrary ids are hashed to longs for the component pass and
    groups re-labelled by smallest ORIGINAL id on the way out. p=2 on
    string ids must group exactly like p=2 on the ids' integral
    pre-images (same cross-boundary fixture that pins the p=1 miss)."""
    from pyspark.sql import functions as F

    from docarray_spark.operators import semantic_dedup

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [
        (0, [0.74, 0.6786]),
        (1, [0.6786, 0.74]),  # cross-boundary twin of 0
        (2, [1.0, 0.05]),
        (3, [0.05, 1.0]),
    ]
    di = spark.createDataFrame(rows, "id long, embedding array<double>")
    ds = di.select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("id"),
        "embedding",
    )
    pi = semantic_dedup(
        di, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)
    ps = semantic_dedup(
        ds, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)
    assert ps["id"].tolist() == [f"doc-{i}" for i in pi["id"]]
    # identical grouping under the id mapping, labelled by min ORIGINAL id
    assert ps["dup_group"].tolist() == [f"doc-{g}" for g in pi["dup_group"]]
    assert ps["keep"].tolist() == pi["keep"].tolist()
    assert ps["cell"].tolist() == pi["cell"].tolist()
    assert ps["centroid_dist"].tolist() == pi["centroid_dist"].tolist()
    # the cross-cell dup is actually caught on the string-id path
    assert ps.loc[1, "dup_group"] == "doc-0"
    # null-embedding rows still ride through as keep=true singletons
    withnull = ds.unionByName(spark.createDataFrame(
        [("doc-9", None)], ds.schema
    ))
    pn = semantic_dedup(
        withnull, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().set_index("id")
    assert bool(pn.loc["doc-9", "keep"]) and pn.loc["doc-9", "dup_group"] == "doc-9"
    assert len(pn) == 5


def test_multi_probe_id_hash_collision_retry_and_exhaustion(spark, monkeypatch):
    """VERDICT r11 #5: the xxhash64 collision-retry path (dedup.py) had
    never executed — a real collision is ~n²/2⁶⁴. Inject one through the
    ``_id_hash_col`` seam: salt=0 returns a constant column (all ids
    collide), salts 1+ the real hash. The retry must succeed at salt=1
    with output IDENTICAL to the no-collision run; a collision under all
    4 salts must raise the documented error (and NOT blame repeated
    ids — ADVICE r11: countDistinct collapses repeats on both sides, so
    the raise can only mean a genuine hash collision)."""
    from pyspark.sql import functions as F

    from docarray_spark.operators import dedup as D
    from docarray_spark.operators import semantic_dedup

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [
        ("doc-0", [0.74, 0.6786]),
        ("doc-1", [0.6786, 0.74]),  # cross-boundary twin of doc-0
        ("doc-2", [1.0, 0.05]),
        ("doc-3", [0.05, 1.0]),
    ]
    ds = spark.createDataFrame(rows, "id string, embedding array<double>")
    clean = semantic_dedup(
        ds, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)

    real = D._id_hash_col
    calls = []

    def collide_salt0(salt):
        calls.append(salt)
        return F.lit(0).cast("long") if salt == 0 else real(salt)

    monkeypatch.setattr(D, "_id_hash_col", collide_salt0)
    retried = semantic_dedup(
        ds, centroids=cents, eps=0.01, round_to=6, n_probe=2
    ).toPandas().sort_values("id", ignore_index=True)
    assert calls == [0, 1]  # salt 0 rejected, salt 1 accepted
    # salt choice is invisible in the output: grouping, keep policy,
    # cells, distances all identical to the no-collision run
    for col in ("id", "dup_group", "keep", "cell", "centroid_dist"):
        assert retried[col].tolist() == clean[col].tolist()
    assert retried.loc[1, "dup_group"] == "doc-0"  # cross-cell dup caught

    monkeypatch.setattr(
        D, "_id_hash_col", lambda salt: F.lit(salt).cast("long")
    )
    with pytest.raises(ValueError, match="collided under 4 salts"):
        semantic_dedup(ds, centroids=cents, eps=0.01, round_to=6, n_probe=2)


def test_semantic_dedup_null_embeddings_and_guards(spark):
    """ADVICE r8 #4 + VERDICT r8 #2: rows with null/empty embeddings come
    back as keep=true singletons (one row per input row — a missing
    embedding never silently deletes a document); k_clusters=0 / an empty
    centroids list raises instead of KeyErroring in the grouped pass; a
    cell over max_cell_rows raises with the k_clusters sizing law instead
    of OOMing the executor."""
    import numpy as np

    from docarray_spark.operators import semantic_dedup

    rows = []
    for d in range(4):
        base = np.random.RandomState(100 + d).randn(8)
        for c in range(2):
            v = base + 0.001 * np.random.RandomState(77 + d * 2 + c).randn(8)
            rows.append((d * 2 + c, [float(x) for x in v]))
    rows += [(100, None), (101, [])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    out = semantic_dedup(df, k_clusters=2, eps=0.05).toPandas()
    assert len(out) == 10 and out["id"].nunique() == 10  # one row per input row
    nul = out[out["id"].isin([100, 101])].set_index("id")
    assert nul["keep"].all()
    assert (nul["dup_group"] == nul.index).all()
    assert nul["cell"].isna().all() and nul["centroid_dist"].isna().all()
    # the comparable rows still dedup normally
    assert out[~out["id"].isin([100, 101])]["keep"].sum() == 4

    with pytest.raises(ValueError, match="k_clusters must be"):
        semantic_dedup(df, k_clusters=0)
    with pytest.raises(ValueError, match="no centroids"):
        semantic_dedup(df, centroids=[])
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-empty embeddings"):
        semantic_dedup(all_null, k_clusters=2)

    # cell-size guard: everything lands in one cell of 8 > max_cell_rows=4
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((PythonException, Py4JJavaError),
                       match="max_cell_rows"):
        semantic_dedup(df, k_clusters=1, max_cell_rows=4).collect()


def test_semantic_dedup_nan_row_is_a_singleton(spark):
    """A row with a NaN element has no finite centroid distance: both
    probe paths return it as a keep=true singleton in cell -1 with a null
    centroid_dist (the single-probe grouped pass raised a KeyError on
    cell -1 before)."""
    from docarray_spark.operators import semantic_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0]), (3, [float("nan"), 1.0])],
        "id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    for p in (1, 2):
        out = {r.id: r for r in semantic_dedup(
            df, centroids=cents, eps=0.05, n_probe=p, persist=False).collect()}
        assert sorted(out) == [0, 1, 2, 3]
        assert tuple(out[3])[1:] == (-1, 3, None, True)
        assert out[0].dup_group == out[1].dup_group == 0 and out[0].keep != out[1].keep


# ---- r12 optimization pins: Arrow kernels ≡ the expression/str forms ----


def test_simhash_kernel_matches_fold(spark):
    """The distinct-token md5 kernel (np.unique + digest-byte read, r12
    opt pass 2) must emit the EXACT fingerprints of simhash_col's
    interpreted fold — unicode tokens, heavy repeats, empty and
    single-token docs included."""
    from docarray_spark.operators.dedup import simhash_col, simhash_table

    rows = [
        (0, "the quick brown fox jumps over the lazy dog the quick fox"),
        (1, "héllo wörld héllo wörld ünïcode tökens the the the"),
        (2, ""),
        (3, "single"),
        (4, " ".join(f"w{i % 7}" for i in range(200))),
        (5, "\t tab  separated \n lines mixed   whitespace \t"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for bits in (16, 32, 48):
        kern = {r.id: r.simhash
                for r in simhash_table(df, "id", "text", bits=bits).collect()}
        fold = {r.id: r.sh
                for r in df.select("id", simhash_col("text", bits).alias("sh")).collect()}
        assert kern == fold, bits


def test_whash_kernel_matches_str_form(spark):
    """The byte-join window-hash kernel (per-token encode hoisted,
    digest[:8] >> 4 read) must group windows exactly like the original
    ' '.join + hexdigest[:15] form: same spans on a corpus with unicode
    and repeated 8-token runs."""
    import hashlib
    from collections import defaultdict

    from docarray_spark.operators.dedup import duplicate_spans
    from docarray_spark.operators.text import tokens_col

    W = 8
    dup_run = "alpha bravo chárlie delta echo föxtrot golf hotel"
    rows = [
        (0, dup_run + " one two three"),
        (1, "prefix words here " + dup_run),
        (2, "unrelated content with enough tokens to clear the window size"),
        (3, dup_run + " " + dup_run),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(tuple(r) for r in duplicate_spans(df, window=W).collect())

    # pure-python replay of the ORIGINAL pipeline (str-join windows,
    # hexdigest[:15], groupBy + join-back marking, island merge)
    toks = {r.id: [t for t in list(r.t)]
            for r in df.select(
                "id", F.array_remove(tokens_col("text"), "").alias("t")
            ).collect()}
    groups = defaultdict(list)
    for i, ts in toks.items():
        for s in range(len(ts) - W + 1):
            h = int(hashlib.md5(
                " ".join(ts[s:s + W]).encode("utf-8")
            ).hexdigest()[:15], 16)
            groups[h].append((i, s))
    marked = defaultdict(list)
    for occ in groups.values():
        if len(occ) > 1:
            first = min(occ)
            for o in occ:
                if o != first:
                    marked[o[0]].append((o[1], o[1] + W))
    exp = []
    for i, lst in marked.items():
        lst.sort()
        cs, ce = lst[0]
        for s, e in lst[1:]:
            if s > ce:
                exp.append((i, cs, ce))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        exp.append((i, cs, ce))
    assert got == sorted(exp)
    assert got, "corpus must actually produce duplicated spans"


def test_embedding_dup_pair_gates_matches_separate_calls(spark):
    # r13 fusion pin: the fused two-gate operator must emit BIT-IDENTICAL
    # rows to two independent embedding_dup_pairs calls (8-table/0.01 and
    # 4-table/0.05) over an adversarial frame: a near-dup cluster, far
    # vectors, and a zero-norm vector (NULL kernel distance on one path,
    # NaN Cauchy-Schwarz gate on the other - both must drop it).
    import numpy as np

    from docarray_spark.operators.dedup import (
        embedding_dup_pair_gates,
        embedding_dup_pairs,
    )

    rng = np.random.RandomState(7)
    rows = []
    for i in range(120):
        v = rng.randn(16)
        rows.append((i, [float(x) for x in v]))
        if i % 10 == 0:  # near-dup copy
            rows.append((1000 + i, [float(x) + 0.005 for x in v]))
    rows.append((9999, [0.0] * 16))  # zero-norm degenerate
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    fused = embedding_dup_pair_gates(
        df, gates=[("g8", 8, 0.01), ("g4", 4, 0.05)],
        num_planes=6, seed=42, round_to=6, dim=16,
    ).collect()
    by_part = {"g8": set(), "g4": set()}
    for r in fused:
        by_part[r.part].add((r.id_a, r.id_b, r.cosine_dist))

    for part, tables, thr in [("g8", 8, 0.01), ("g4", 4, 0.05)]:
        sep = embedding_dup_pairs(
            df, threshold=thr, method="lsh", num_planes=6,
            num_tables=tables, seed=42, round_to=6, dim=16,
        ).collect()
        sep_set = {(r.id_a, r.id_b, r.cosine_dist) for r in sep}
        assert by_part[part] == sep_set, part
        assert len(sep_set) > 0, part  # the pin must actually exercise pairs
    spark.catalog.clearCache()


def test_shared_shingles_matches_inline_build(spark):
    # r13 fusion pin: passing a pre-built (_id, _sh) shingle table via the
    # operators' shingles= contract must emit BIT-IDENTICAL rows to the
    # operators building their own shingles, for BOTH the minhash-LSH and
    # the exact inverted-index paths, on an adversarial frame: near-dup
    # pairs at/below the threshold, a short doc (< shingle_n tokens), an
    # empty doc, and a whitespace-only doc.
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from docarray_spark.functions.localexec import eager_cache
    from docarray_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_exact_pairs,
        with_word_shingles,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different text with nothing shared at all"),
        (4, "tiny doc"),
        (5, ""),
        (6, "   "),
        (7, "quick brown fox jumps over the lazy dog extra tokens here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    sh = with_word_shingles(df, "text", 3).select(
        F.col("id").alias("_id"), "_sh"
    )
    sh = eager_cache(sh.persist(StorageLevel.MEMORY_AND_DISK))
    try:
        for fn, kw in [
            (minhash_dedup_pairs, dict(num_bands=16, num_rows=2)),
            (ngram_jaccard_exact_pairs, dict()),
        ]:
            inline = fn(
                df, id_col="id", text_col="text", shingle_n=3,
                threshold=0.4, round_to=6, **kw,
            ).collect()
            shared = fn(
                df, id_col="id", text_col="text", shingle_n=3,
                threshold=0.4, round_to=6, shingles=sh, **kw,
            ).collect()
            key = lambda r: (r.id_a, r.id_b, r.jaccard)
            assert sorted(map(key, shared)) == sorted(map(key, inline)), fn.__name__
            assert len(inline) > 0, fn.__name__  # pin must exercise pairs
    finally:
        spark.catalog.clearCache()


def test_shingles_frame_is_validated(spark):
    # a shingles= frame without _id, or whose _sh is not array<string>,
    # raises naming the expected construction instead of failing (or
    # silently matching nothing) deep inside the join plan
    from pyspark.sql import functions as F

    from docarray_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_exact_pairs,
    )

    df = spark.createDataFrame([(0, "a b c d")], "id long, text string")
    bad = [
        df.select(F.col("id"), F.split("text", " ").alias("_sh")),  # no _id
        df.select(F.col("id").alias("_id"), F.col("text").alias("_sh")),
        df.select(F.col("id").alias("_id"), F.array(F.lit(1)).alias("_sh")),
    ]
    for fn in (minhash_dedup_pairs, ngram_jaccard_exact_pairs):
        for sh in bad:
            with pytest.raises(ValueError, match=r"with_word_shingles\(.*_id"):
                fn(df, id_col="id", text_col="text", shingles=sh)
