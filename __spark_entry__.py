"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2;
``oracle_sql()`` gives the DuckDB-equivalent SQL the driver hash-compares
against at sf0.01, one key per entry. Column names are aliased identically
on both sides.

Cache contract: an entry may leave a subtree its parts share persisted (the
returned plan reads it); the caller clears the session cache between entries
with ``spark.catalog.clearCache()``, as ``bench.py::_entry_cleanup`` does.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from docarray_spark.operators import (
    dup_groups,
    embed,
    set_along_path,
    group_counts,
    hash_sample,
    lang_id,
    match,
    minhash_dedup_pairs,
    reduce_docs,
    relevance_arrays,
    simhash_table,
    text_stats,
    tokens_col,
    traverse,
    vocabulary,
)
from docarray_spark.operators.evaluation import METRICS
from docarray_spark.operators.indexing import (
    delete_where,
    pop_attrs,
    set_attrs_where,
    slice_by_offset,
    update_by_id,
)
from docarray_spark.functions.content import feature_hash, text_to_datauri_col
from docarray_spark.operators.ann import ivf_match, lsh_match
from docarray_spark.operators.multimodal import decode_images, image_sliding_windows, resize_images
from docarray_spark.queryset import find
from docarray_spark.sources import read_table as _t


def _submit(pool, fn, *args, **kwargs):
    """``pool.submit`` for Spark work: the thread runs ``fn`` under the
    caller's local properties (job group, job description) and session
    tags, so the jobs it starts are attributed to the calling entry."""
    from pyspark.util import inheritable_thread_target

    target = inheritable_thread_target(SparkSession.active())(fn)
    return pool.submit(target, *args, **kwargs)


# ---------------------------------------------------------------- filter QL

def q_ql_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo-QL comparison ops + implicit AND (queryset/parser.py:34-98)."""
    docs = _t(spark, sf_dir, "documents")
    return find(docs, {"lang": "en", "n_chars": {"$gte": 100, "$lt": 400}})


def q_ql_filter_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$or / $not / $in combinators (queryset/lookup.py:135-224)."""
    ev = _t(spark, sf_dir, "events")
    return find(
        ev,
        {
            "$or": [{"event_type": "click"}, {"value": {"$gt": 50.0}}],
            "$not": {"user_id": {"$in": [1, 2, 3]}},
        },
    )


def q_ql_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$regex + $in + $exists (queryset/lookup.py:104-124)."""
    docs = _t(spark, sf_dir, "documents")
    return find(
        docs,
        {
            "text": {"$regex": "^(key|scan|table)", "$exists": True},
            "source": {"$in": ["src0", "src1", "src2"]},
        },
    )


def q_ql_filter_size_placeholder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$size + placeholder compare, PLUS (r4) the full Document-schema QL
    truth table, all part-tagged as (part, id) match sets.

    The r4 parts synthesize a reference-shaped Document table from
    `documents` — nullable/empty text and parent_id, numeric weight,
    possibly-empty location array, dynamic `tags_json`, nested
    scores.cosine.value struct — and hash-gate the HARD reference
    semantics (test_filter.py:26-85, lookup.py:108-124): default-aware
    $exists ('' and [] are NOT set), tags numeric coercion through the
    JSON string, JSON-key $exists, dunder struct paths, and two-valued
    $nin over NULLs. Every part is a map-only predicate fused into the
    scan."""
    emb = _t(spark, sf_dir, "embeddings")
    sp = (
        find(emb, {"embedding": {"$size": 64}, "vec_id": {"$gt": "{label}"}})
        .select(
            F.lit("size_placeholder").alias("part"),
            F.col("vec_id").cast("string").alias("id"),
        )
    )

    d = F.col("doc_id")
    table = _t(spark, sf_dir, "documents").filter(d < 400).select(
        d.cast("string").alias("id"),
        F.when(d % 11 == 0, F.lit(None).cast("string"))
        .when(d % 7 == 0, F.lit(""))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(d % 5 == 0, F.lit(None).cast("string"))
        .when(d % 5 == 1, F.lit(""))
        .otherwise(F.concat(F.lit("p"), (d % 13).cast("string")))
        .alias("parent_id"),
        (d % 4).cast("int").alias("granularity"),
        F.when(d % 3 == 0, F.lit(None).cast("double"))
        .otherwise((d % 10).cast("double") / 2.0)
        .alias("weight"),
        F.when(d % 6 == 0, F.array().cast("array<double>"))
        .otherwise(F.array((d % 5).cast("double"), F.lit(1.0)))
        .alias("location"),
        F.concat(
            F.lit('{"x": '), (d % 20).cast("string"),
            F.lit(', "name": "n'), (d % 6).cast("string"), F.lit('"'),
            F.when(d % 2 == 0, F.lit(', "flag": true')).otherwise(
                F.lit(', "flag": false')
            ),
            F.when(d % 9 == 0, F.lit(', "extra": 1.5')).otherwise(F.lit("")),
            F.lit("}"),
        ).alias("tags_json"),
        F.struct(
            F.struct(
                ((d % 17).cast("double") / 16.0).alias("value"),
                F.lit("cosine").alias("op_name"),
            ).alias("cosine")
        ).alias("scores"),
    )

    cases = {
        "exists_text": {"text": {"$exists": True}},
        "not_exists_text": {"text": {"$exists": False}},
        "exists_weight": {"weight": {"$exists": True}},
        "exists_location": {"location": {"$exists": True}},
        "tags_num_range": {"tags__x": {"$gte": 10, "$lt": 17}},
        "tags_str_eq": {"tags__name": "n3"},
        "tags_bool": {"tags__flag": True},
        "tags_exists": {"tags__extra": {"$exists": True}},
        "dunder_struct": {"scores__cosine__value": {"$lt": 0.5}},
        "nin_two_valued": {"parent_id": {"$nin": ["p1", "p2", "p3"]}},
        "not_multi": {"$not": {"granularity": {"$gt": 1}, "text": {"$exists": True}}},
    }
    out = sp
    for name, cond in cases.items():
        out = out.unionByName(
            find(table, cond).select(F.lit(name).alias("part"), "id")
        )
    return out


# ------------------------------------------- grouping / merging / sampling

def q_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_by_tag-style grouping with order preservation
    (array/mixins/group.py:17-39)."""
    docs = _t(spark, sf_dir, "documents").withColumn("offset", F.col("doc_id"))
    return group_counts(docs, "source")


def q_reduce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-by-id with left-priority field coalesce
    (array/mixins/reduce.py:29-91)."""
    docs = _t(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id"),
        F.when(F.col("source") != "src0", F.col("text")).alias("text"),
        "n_chars",
    )
    right = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id"), "text", F.lit(-1).cast("long").alias("n_chars")
    )
    return reduce_docs(left, right)


def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (engine extension; absent from the reference per
    SURVEY §2.4 — free on Spark): event counts and value sums over all
    (event_type, user-bucket) subtotal combinations."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long")
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine extension, SURVEY §2.3 'absent from reference'):
    each click event matched to the user's latest view event at-or-before
    it. Union-window implementation — one shuffle, no join explosion."""
    from docarray_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event")
    )
    out = asof_join(clicks, views, time_col="ts", by=["user_id"],
                    right_cols=["view_event"])
    return out.select("event_id", "user_id", F.col("view_event_right").alias("view_event"))


def q_batch_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """batch(batch_size) (array/mixins/group.py:41-95): batch id assignment
    over the order column + per-batch sizes."""
    from docarray_spark.operators import with_batch_id

    docs = _t(spark, sf_dir, "documents").withColumn("offset", F.col("doc_id"))
    batched = with_batch_id(docs, 64)
    return batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extend (duplicates kept) + del-by-ids + membership semi-join
    (storage/base/seqlike.py:10-25, delitem.py:19-78)."""
    from docarray_spark.operators import concat, contains_ids, delete_by_ids

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), "source")
    both = concat(docs.filter(F.col("id") < 250), docs.filter((F.col("id") >= 200) & (F.col("id") < 450)))
    pruned = delete_by_ids(both, [i for i in range(0, 500, 10)])
    keep = docs.filter(F.col("source").isin("src0", "src1")).select("id")
    return contains_ids(pruned, keep)


# ----------------------------------------------------------------- traversal

def _doc_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency-list nodes table derived from `documents`: every doc is a
    root; its text halves are chunks (granularity 1); their halves are
    grand-chunks (granularity 2). Mirrors ChunkArray encoding
    (array/chunk.py:30-45)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    roots = docs.select(
        "id", F.lit("").alias("parent_id"), F.lit(0).alias("granularity"),
        F.lit(0).cast("long").alias("offset"), "text",
    )

    def halves(df):
        n = F.length("text")
        first = F.substring(F.col("text"), F.lit(1), F.floor(n / 2).cast("int"))
        second = F.expr("substring(text, cast(floor(length(text)/2) as int) + 1)")
        g = F.col("granularity") + 1
        a = df.select(
            F.concat("id", F.lit(".0")).alias("id"), F.col("id").alias("parent_id"),
            g.alias("granularity"), F.lit(0).cast("long").alias("offset"),
            first.alias("text"),
        )
        b = df.select(
            F.concat("id", F.lit(".1")).alias("id"), F.col("id").alias("parent_id"),
            g.alias("granularity"), F.lit(1).cast("long").alias("offset"),
            second.alias("text"),
        )
        return a.unionByName(b)

    chunks = halves(roots)
    grand = halves(chunks)
    # traversal/reduce/set entries reference the tree several times per
    # query (per-path joins; suite parts); persist so the substring tree
    # builds once per execution instead of per reference (bench clears
    # cache between entries)
    return roots.unionByName(chunks).unionByName(grand).persist()


def q_traverse_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traversal path DSL 'c[:1],cc[-1]' — first chunk per root plus last
    grand-chunk per chunk (array/mixins/traverse.py:16-72,110-234)."""
    nodes = _doc_nodes(spark, sf_dir)
    return traverse(nodes, "c[:1],cc[-1]").select("id", "parent_id", "granularity", "text")


def q_traverse_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal attribute selectors '.[banner, paragraphs]'
    (traverse.py:16-52 grammar, multimodal.py:100-136 resolution): 'banner'
    is a DOCUMENT attribute at chunk position 0 (the chunk itself);
    'paragraphs' is ITERABLE at position 1 (that chunk's chunks)."""
    nodes = _doc_nodes(spark, sf_dir)
    mm = {
        "banner": {"position": 0, "iterable": False},
        "paragraphs": {"position": 1, "iterable": True},
    }
    out = traverse(nodes, ".[banner, paragraphs]", mm_schema=mm)
    return out.select("id", "parent_id", "granularity", "text")


def q_traverse_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'m[:3]' traversal — the MatchArray step (array/match.py): hop from
    root docs through the matches table (kNN output) back onto nodes,
    keeping each root's top-3 by rank."""
    emb = _t(spark, sf_dir, "embeddings")
    nodes = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").cast("string").alias("id"),
        F.lit("").alias("parent_id"),
        F.lit(0).alias("granularity"),
        F.col("vec_id").alias("offset"),
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    matches = match(
        emb.filter(F.col("vec_id") < 200), queries, k=5, metric="cosine",
        corpus_id_col="vec_id", exclude_self=True, eps=0.0,
    ).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("match_id").cast("string").alias("match_id"),
        "rank",
    )
    out = traverse(nodes, "m[:3]", matches=matches)
    return out.select("id", "parent_id", "granularity")


# ----------------------------------------------------------------- evaluation

def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metric evaluation (array/mixins/evaluation.py:15-86,
    math/evaluation.py:14-168): kNN matches vs label-based groundtruth."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 10)
    matches = match(
        emb, queries, k=10, metric="cosine", corpus_id_col="vec_id",
        exclude_self=True, eps=0.0,
    )
    gt = (
        emb.alias("e")
        .join(emb.filter(F.col("vec_id") < 10).alias("q"), F.expr("e.label = q.label"))
        .select(
            F.col("q.vec_id").alias("query_id"), F.col("e.vec_id").alias("match_id")
        )
        .filter("query_id <> match_id AND match_id % 7 = 0")
    )
    rel = relevance_arrays(matches, gt)
    c = F.col("rel")
    return rel.select(
        "query_id",
        F.round(METRICS["precision_at_k"](c, k=5), 6).alias("precision_at_5"),
        F.round(METRICS["recall_at_k"](c, k=10, max_rel=10), 6).alias("recall_at_10"),
        F.round(METRICS["reciprocal_rank"](c), 6).alias("reciprocal_rank"),
        F.round(METRICS["average_precision"](c), 6).alias("average_precision"),
        F.round(METRICS["ndcg_at_k"](c, k=10, method=1), 6).alias("ndcg_at_10"),
        F.round(METRICS["hit_at_k"](c, k=3), 6).alias("hit_at_3"),
    )


# ----------------------------------------------- text analysis (pipeline ops)

def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 Table A1): word
    bounds, mean word length, alpha-word fraction, stopword presence,
    symbol ratio, bullet/ellipsis lines, duplicate-line and top-bigram
    repetition + keep verdict — ONE map-only Catalyst projection — chained
    (r6) with the char-mass repetition-removal half of the rule set
    (top-{2,3,4}-gram / dup-{5..10}-gram / dup-line character fractions,
    one Arrow mapInPandas pass on the same scan; §A.1.1 thresholds) and a
    combined ``keep_all`` verdict. Still zero shuffles, one scan."""
    from docarray_spark.operators import gopher_quality, repetition_signals

    docs = _t(spark, sf_dir, "documents")
    # Arrow pass FIRST on the bare (id, text) pair, Catalyst projection on
    # top: the r6 order shipped gopher's ten computed columns through the
    # Python worker round-trip for no reason (r9: 3.7 s → 2.75 s warm at
    # sf0.1). Still one scan, zero shuffles.
    rep = repetition_signals(
        docs.select("doc_id", "text"), id_col="doc_id", text_col="text"
    )
    rules = gopher_quality(
        rep, id_col="doc_id", text_col="text",
        extra_cols=[c for c in rep.columns if c not in ("doc_id", "text")],
    )
    return rules.withColumn("keep_all", F.col("keep") & F.col("rep_keep"))


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal over documents: 8-token blocks that
    appear in ≥2 distinct docs (the corpus' planted duplicates) are dropped
    from every doc, order preserved. Frequent-block set is tiny → broadcast
    tag; 2 hash exchanges total (block doc-frequency agg + doc rebuild)."""
    from docarray_spark.functions.localexec import ensure_parallelism
    from docarray_spark.operators import remove_frequent_units, token_blocks_col

    # spread the single-split scan BEFORE the block-building projection
    # (placed after, the repartition would sit above it and the blocks
    # would still build in one task — localexec docstring); no-op at scale
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return remove_frequent_units(
        docs.withColumn("units", token_blocks_col("text", 8)),
        id_col="doc_id", units="units", min_df=2,
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events log (15-min idle gap) +
    per-session rollup. One hash exchange on user_id: the lag/running-sum
    window and the (user, session_idx) rollup share the same partitioning,
    so Catalyst reuses the exchange. Timestamps as epoch-micros longs."""
    from docarray_spark.operators import session_summary

    ev = _t(spark, sf_dir, "events")
    return session_summary(
        ev, user_col="user_id", ts_col="ts", gap_seconds=900,
        value_col="value",
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically injected emails /
    phone numbers / IPv4 addresses (the synthetic corpus has none, so the
    entry plants them: every 7th doc an email, every 5th a phone, every
    11th an IP). Counts + typed-token redaction are ONE map-only regexp
    projection fused into the scan."""
    from docarray_spark.operators import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 7 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((did % 1000).cast("string"), 3, "0"),
                        F.lit("-4567"))).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" from 192.168."), (did % 256).cast("string"),
                        F.lit("."), (did % 100).cast("string"))
               ).otherwise(F.lit("")),
    )
    return pii_scrub(
        docs.withColumn("text", injected), id_col="doc_id", text_col="text"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix C style): flag corpus docs
    sharing word 8-grams with a benchmark set (here every 10th doc stands
    in as the eval set). Eval grams are md5-hashed and BROADCAST — the
    corpus side is a map-side semi-probe, no shuffle of corpus text; the
    only exchange is the tiny per-doc hit count aggregation."""
    from docarray_spark.operators import decontaminate_report

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 10 == 7)
    return decontaminate_report(
        docs, eval_set, id_col="doc_id", text_col="text", ngram_n=8,
        min_hits=3,
    ).orderBy("doc_id")


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints: char 5-gram md5 hashes,
    window-of-4 minima, sorted distinct selection — detects partial overlap
    that whole-doc hashing misses. Single zero-shuffle projection."""
    from docarray_spark.operators import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(docs, id_col="doc_id", k=5, w=4).select(
        "doc_id", F.concat_ws(",", F.col("fingerprint")).alias("fingerprint_csv")
    )


def q_doc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """da.summary() attribute table (reference plot.py:84-104: attribute,
    dtype, #unique, has-empty) as ONE distributed aggregate instead of a
    driver-side per-doc loop; exact distinct only because this run is
    oracle-gated (default is HyperLogLog)."""
    from docarray_spark.operators import dataset_summary

    docs = _t(spark, sf_dir, "documents")
    return dataset_summary(docs, exact_distinct=True)


def q_text_to_tensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert_text_to_tensor (document/mixins/text.py:38-102): token→id
    sequence via broadcast vocab join (0=pad, 1=unk, ids from 2), trimmed/
    padded to length 8; tensor emitted as CSV for exact compare."""
    from docarray_spark.operators import text_to_tensor

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id"), "text")
    vocab = vocabulary(docs, min_count=5)
    out = text_to_tensor(docs, vocab, id_col="doc_id", max_len=8)
    return out.select(
        "doc_id", F.concat_ws(",", F.col("tensor")).alias("tensor_csv")
    )


HYBRID_QUERIES = {
    0: "key value scan table",
    1: "merge join window group",
    2: "vector stream batch data",
}


def q_text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text search + hybrid retrieval + MMR rerank, five parts:

    - ``bm25``: single-query corpus BM25 (reference find(str),
      Elasticsearch-only — storage/elastic/find.py:74-114) as pure
      DataFrame algebra; top-20 via distributed TakeOrderedAndProject.
    - ``multi``: batched multi-query BM25 — 3 queries, ONE corpus
      tokenize, per-query top-15 via WindowGroupLimit.
    - ``rrf``: hybrid lexical+vector fusion — Reciprocal Rank Fusion
      (Cormack et al. 2009) of the multi-query BM25 list and exact cosine
      kNN over the same query ids (doc_id == vec_id id space), k=10.
    - ``wsum``: weighted min-max score fusion (CombSUM), text 0.25 /
      vector 0.75.
    - ``mmr``: Maximal Marginal Relevance diversity rerank of the vector
      candidates (λ=0.5, k=5) — rank is the greedy pick order, replayed
      in SQL as unrolled argmax CTEs.

    The fusion inputs are queries × fetch_k rows — broadcast-sized no
    matter the corpus; the corpus-scale work stays in the two modality
    top-k operators, each computed ONCE and shared: the multi part is the
    rank≤15 slice of the same fetch_k=40 list the fusions consume
    (identical scoring/ranking, same equivalence hybrid_search relies
    on), so the entry pays one batched corpus tokenize + one kNN pass."""
    from docarray_spark.operators import minmax_fuse, rrf_fuse, text_search_multi

    docs = _t(spark, sf_dir, "documents")
    dtext = docs.select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    qvecs = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )

    # The three modality lists are eager now (each collects its ≤k·n_q
    # rows so its tf/score caches release — r9 review): run the three
    # INDEPENDENT jobs on threads so they overlap on the executor pool
    # the way they did as stages of one union job when the lists were
    # lazy persisted subtrees (serializing them cost +60% entry wall,
    # r10 bench). Spark job submission is thread-safe; each future
    # returns a driver-local DataFrame.
    from concurrent.futures import ThreadPoolExecutor

    def _knn():
        # eps=0.0: the unsmoothed cosine ratio SQL replays bit-for-bit
        from docarray_spark.functions.localexec import local_table

        plan = match(
            emb, qvecs, k=40, metric="cosine", corpus_id_col="doc_id",
            query_id_col="query_id", round_scores=6, eps=0.0,
        ).select("query_id", "match_id", "score", "rank")
        # Arrow local rebuild — the pickled-row form cost one Python
        # worker per partition per fusion/MMR reference (r12 profile)
        return local_table(spark, plan.collect(), plan.schema)

    # r12: the single 'bm25' query rides the SAME batched pass as the
    # three multi queries (query_id -1) — document frequencies, N and
    # avgdl are query-set-independent, so every score is bit-identical to
    # the separate text_search call while the corpus tokenize runs once
    # for all four queries instead of twice (two fewer corpus passes and
    # one fewer thread job; oracle SQL unchanged)
    all_queries = dict(HYBRID_QUERIES)
    all_queries[-1] = "key value scan table"
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_tr = _submit(
            pool, text_search_multi, dtext, all_queries,
            id_col="doc_id", k=40, round_to=6,
        )
        f_vec40 = _submit(pool, _knn)
        tr_all, vec40 = f_tr.result(), f_vec40.result()
    single = tr_all.filter((F.col("query_id") == -1) & (F.col("rank") <= 20))
    tr40 = tr_all.filter(F.col("query_id") >= 0)

    parts = [
        single.select(
            F.lit("bm25").alias("part"),
            F.lit(-1).cast("long").alias("query_id"),
            "doc_id", "score", "rank",
        )
    ]
    parts.append(
        tr40.filter(F.col("rank") <= 15).select(
            F.lit("multi").alias("part"), "query_id", "doc_id", "score", "rank"
        )
    )
    text_ranks = tr40.withColumnRenamed("doc_id", "match_id")
    fused = {
        "rrf": rrf_fuse([text_ranks, vec40], k=10, round_to=9),
        # alpha=0.25: both weights (0.25, 1-0.25=0.75) are exact dyadic
        # doubles, so SQL literals 0.25/0.75 replay them bit-identically
        "wsum": minmax_fuse(
            [text_ranks, vec40], weights=[0.25, 0.75],
            higher_is_better=[True, False], k=10, round_to=6,
        ),
    }
    for method, f in fused.items():
        parts.append(
            f.select(
                F.lit(method).alias("part"), "query_id",
                F.col("match_id").alias("doc_id"), "score", "rank",
            )
        )
    # fifth part: MMR diversity rerank of the vector candidate list
    # (Carbonell & Goldstein 1998) — rank = pick order; λ=0.5 keeps every
    # arithmetic step an exact dyadic double, and the SQL oracle replays
    # the greedy argmax UNROLLED (k=5 pick CTEs over the shared veck list)
    from docarray_spark.operators import mmr_rerank

    mmr_cand = vec40.select(
        "query_id", "match_id",
        (F.lit(1.0) - F.col("score")).alias("rel"),
    )
    mmr = mmr_rerank(
        mmr_cand, emb, k=5, lam=0.5, emb_id_col="doc_id", round_to=6
    )
    parts.append(
        mmr.select(
            F.lit("mmr").alias("part"), "query_id",
            F.col("match_id").alias("doc_id"), "score", "rank",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_nested_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested bulk set along a traversal path da['@c[:1]', 'text'] = 'X'
    (setitem.py:61-244): only first-chunks change, all other nodes pass
    through untouched."""
    nodes = _doc_nodes(spark, sf_dir)
    out = set_along_path(nodes, "c[:1]", text=F.lit("X"))
    return out.select("id", "parent_id", "granularity", "text")


def q_reduce_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE reduce_all (array/mixins/reduce.py:47-91): merge two chunked
    corpora tree-by-tree. Left = trees for doc_id<350 (lowercase text,
    weight set only at roots); right = trees for doc_id>=200 (uppercase
    text, weight=-1 everywhere). Overlapping trees merge chunk-by-chunk
    with left priority (left text wins; left's NULL chunk weights take the
    right value); right-only trees append whole. One merge-by-id over the
    flat nodes table IS the recursion in the adjacency encoding."""
    from docarray_spark.operators import reduce_all

    nodes = _doc_nodes(spark, sf_dir).select(
        "id", "parent_id", "granularity", "text"
    )
    rootnum = F.split(F.col("id"), r"\.").getItem(0).cast("int")
    left = nodes.filter(rootnum < 350).withColumn(
        "weight",
        F.when(F.col("granularity") == 0, F.length("text").cast("double")),
    )
    right = (
        nodes.filter(rootnum >= 200)
        .withColumn("text", F.upper("text"))
        .withColumn("weight", F.lit(-1.0))
    )
    merged, _ = reduce_all(left, right)
    return merged.select("id", "parent_id", "granularity", "text", "weight")


def q_embed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-inference plumbing (array/mixins/embed.py:17-167): Arrow-
    batched mapInPandas with a per-worker model instance. The model is the
    md5-derived deterministic encoder (VERDICT r2 #5) — every embedding
    component is an exact dyadic double any SQL engine reproduces, so the
    gate hash-checks the full embedding CONTENT per dimension."""
    from docarray_spark.operators.embed import md5_text_encoder

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    docs = docs.withColumn("text", F.coalesce("text", F.lit("")))
    out = embed(
        docs, input_col="text", dim=16, batch_size=64,
        model_loader=lambda: md5_text_encoder(16), out_type="double",
    )
    return out.select("doc_id", F.posexplode("embedding").alias("dim", "value")).select(
        "doc_id", F.col("dim").cast("long").alias("dim"), "value"
    )


# ------------------------------------------------------- dedup (pipeline ops)

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a first-2-token prefix fingerprint:
    (fingerprint, dup_count, canonical_id)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "prefix2", F.concat_ws(" ", F.slice(tokens_col("text"), 1, 2))
    )
    return dup_groups(docs, ["prefix2"], id_col="doc_id")


def _docs_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ synthetic near-duplicates: every 10th doc re-appears with
    its first 4 tokens dropped (id + 100000) — deterministic and
    SQL-reproducible, so LSH recall is oracle-checkable."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), "text")
    copies = (
        docs.filter(F.col("id") % 10 == 0)
        .select(
            (F.col("id") + 100000).alias("id"),
            F.concat_ws(
                " ", F.expr(r"slice(split(trim(text), '\\s+'), 5, 100000)")
            ).alias("text"),
        )
    )
    return docs.unionByName(copies)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (md5-derived token hashes),
    computed via explode + partial-agg (codegen path)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_table(docs, id_col="doc_id", text_col="text", bits=32)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs: 4 byte-slices of the 32-bit
    fingerprint, bucket join, bit_count(xor) verify ≤ 3 — within the
    pigeonhole bound (hamming ≤ num_bands-1 ⇒ ≥1 slice collides), so the
    returned pair set is exactly ALL pairs at hamming ≤ 3 (ADVICE r1: the
    old max_hamming=6 silently missed non-colliding hamming-4..6 pairs)."""
    from docarray_spark.operators import simhash_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=32, max_hamming=3,
        num_bands=4,
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster consolidation: simhash pairs → connected components
    (alternating large-star/small-star, Kiveris SoCC'14 — O(log^2 n) integer
    shuffles regardless of chain length) → every doc labeled with its
    cluster's min doc_id + an is_canonical keep flag. The missing last step
    of every fuzzy-dedup pipeline: pairs alone can't pick survivors when
    A~B~C but A!~C."""
    from docarray_spark.operators import dedup_clusters, simhash_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=32, max_hamming=3,
        num_bands=4,
    )
    return dedup_clusters(
        docs, pairs, id_col="doc_id", src="id_a", dst="id_b"
    ).orderBy("doc_id")


# ------------------------------------------- indexing / CRUD / content ops

def q_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar store round-trip (replaces save_binary, io/binary.py:40-170):
    write documents partitioned by lang (partition pruning on read), read
    back — output must equal the source exactly."""
    import tempfile

    from docarray_spark.sources import save_parquet

    docs = _t(spark, sf_dir, "documents")
    out_dir = tempfile.mkdtemp(prefix="sg_store_")
    save_parquet(docs, out_dir, partition_by=["lang"])
    back = spark.read.parquet(out_dir)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def q_datauri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-2397 data-URI codec (convert.py:38-51) — base64 JVM expression."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", text_to_datauri_col("text").alias("datauri"))


# ------------------------------------------------------------ vector search

def _emb_corpus_queries(spark, sf_dir, n_queries):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    return emb, queries


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine match with exclude_self
    (array/mixins/match.py:12-93, storage/memory/find.py:92-181)."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 10)
    return match(
        emb, queries, k=10, metric="cosine", corpus_id_col="vec_id",
        exclude_self=True, eps=0.0, round_scores=6,
    )


def q_knn_sqeuclidean_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: Mongo-QL pre-filter pushed below the kNN
    (storage/annlite/find.py:16-44 semantics)."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 10)
    return match(
        emb, queries, k=5, metric="sqeuclidean", corpus_id_col="vec_id",
        filter={"label": {"$in": [0, 1]}}, round_scores=6,
    )


def q_knn_euclidean_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN with min-max score normalization over the full distance row
    (math/helper.py:6-37, storage/memory/find.py:109-113)."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 5)
    return match(
        emb, queries, k=10, metric="euclidean", corpus_id_col="vec_id",
        normalization=(0, 1), round_scores=6,
    )


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus×corpus k-NN graph, SINGLE pass (no driver query collect,
    no per-block corpus re-scan): shuffle-based block-nested loop — rows
    explode to (query_block, corpus_block) task keys, one applyInPandas
    partial top-k per block pair, one window merge. One corpus scan in the
    plan (pinned in tests/test_plans.py)."""
    from docarray_spark.operators import knn_graph

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    return knn_graph(emb, k=10, n_blocks=8, round_scores=6)


def q_knn_inner_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-inner-product search (engine extension; score = -dot)."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 10)
    return match(
        emb, queries, k=10, metric="inner_product", corpus_id_col="vec_id",
        round_scores=6,
    )


# ----------------------------------------------------- ANN similarity search

def q_sparse_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector top-k cosine kNN (reference sparse embedding support,
    math/distance/numpy.py:40-81) via the relational inverted-index join:
    explode nonzeros, equi-join on dimension, sum products."""
    from docarray_spark.functions.sparse import sparse_match, to_sparse_col

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("d"),
    ).withColumn("sparse", to_sparse_col("d", threshold=0.2))
    queries = emb.filter(F.col("id") < 5)
    return sparse_match(emb, queries, k=10, sparse_col="sparse", round_scores=6)


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-family ANN, part-tagged:

    - part='ivf': IVF approximate top-k — deterministic hash-sampled
      centroids, probe 4/16 cells, exact cosine inside probed cells.
    - part='pq_adc' (r5): product-quantization ADC top-k (operators/pq.py;
      Jégou et al. TPAMI 2011) — 4 subspaces × 8 codewords, codewords =
      the md5-hash-sampled corpus rows (same quantizer derivation as IVF's
      centroids), corpus encoded to 4-byte codes, queries scored by LUT
      sums. Every step (codebook choice, per-subspace argmin encode, ADC
      sums) is deterministic algebra, so the ORACLE replays the whole
      operator — encode included — in SQL.

    Both parts fully SQL-reproducible, so oracle-gated despite being
    approximate."""
    from docarray_spark.operators.pq import pq_encode, pq_match

    emb, queries = _emb_corpus_queries(spark, sf_dir, 8)
    # both parts (ivf + pq encode/match) and the query side scan the same
    # embeddings subtree — persist it once (the operators document the
    # caller-persist contract; this entry is the caller). The codebook
    # collect below is the materializing action.
    emb.persist()
    ivf = ivf_match(
        emb, queries, k=10, n_cells=16, n_probe=4, metric="cosine",
        corpus_id_col="vec_id", query_id_col="id", round_scores=6,
    )
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    # codebooks: the 8 corpus vectors with smallest md5(id), code order by
    # id — the ivf_index centroid derivation, reused per subspace
    cw = sorted(
        base.withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h").limit(8).drop("_h").collect(),
        key=lambda r: r.id,
    )
    books = [
        [[float(x) for x in r.v[lo:hi]] for r in cw]
        for lo, hi in ((0, 16), (16, 32), (32, 48), (48, 64))
    ]
    enc = pq_encode(base, books, id_col="id", emb_col="v")
    pq = pq_match(
        enc, queries, books, k=10, metric="sqeuclidean",
        query_emb_col="embedding", round_scores=6,
    )
    part = lambda df, tag: df.select(F.lit(tag).alias("part"), "*")  # noqa: E731
    return part(ivf, "ivf").unionByName(part(pq, "pq_adc"))


def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k. Hyperplanes are md5-derived ±1
    signs (functions/lsh.py), so the ENTIRE operator — bucketing included —
    is reproduced by the DuckDB oracle; the bucket join ships ids only
    (vectors re-joined for the exact re-rank). Recall vs the exact operator
    is additionally asserted in tests/test_ann.py."""
    emb, queries = _emb_corpus_queries(spark, sf_dir, 8)
    return lsh_match(
        emb, queries, k=10, metric="cosine", corpus_id_col="vec_id",
        query_id_col="id", num_planes=4, num_tables=16, round_scores=6,
        dim=64,
    )


# ------------------------------------------------------- multimodal pipeline

def q_mm_image_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end, part-tagged: 'image' = text bytes
    as a stand-in binary blob → deterministic fake decode (mapInPandas) →
    nearest-neighbour resize → sliding-window patches as chunk rows
    (ChunkArray encoding); 'audio' (r4) = the same blobs through the
    int16-PCM fake decode → per-waveform sample count + peak amplitude.
    The codecs are stubs, but every step is deterministic, so the WHOLE
    chain is hash-gated: the oracle replays shape-from-md5, byte tiling,
    the resize gather, window pixel sums, and the int16 sample math in
    SQL. (Peak amplitude gates exactly — int/2¹⁵ is float32-exact; RMS
    stays pytest-only, float32 squaring diverges from the oracle's
    doubles below the rounding floor.)"""
    from docarray_spark.operators.multimodal import decode_audio

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select(F.col("doc_id").cast("string").alias("id"),
                        F.col("text").cast("binary").alias("blob"))
    decoded = decode_images(media)
    resized = resize_images(decoded, 8, 8)
    chunks = image_sliding_windows(resized, window=4, stride=4)
    img = chunks.select(
        F.lit("image").alias("part"),
        "id", "parent_id", "granularity", "offset", "height", "width", "channels",
        F.round(F.aggregate("pixels", F.lit(0.0), lambda a, x: a + x), 4).alias("pixel_sum"),
    )
    wav = decode_audio(media)
    audio = wav.select(
        F.lit("audio").alias("part"),
        "id", F.col("id").alias("parent_id"),
        F.lit(0).cast("int").alias("granularity"),
        F.lit(0).cast("long").alias("offset"),
        F.col("n_samples").cast("int").alias("height"),
        F.lit(1).cast("int").alias("width"),
        F.lit(1).cast("int").alias("channels"),
        F.round("amax", 6).alias("pixel_sum"),
    )
    # 'video' part (r4): keyframe sampling over a synthetic 3-frame
    # 2x2x3 tensor tiled from the text bytes (video DECODE is out of
    # container scope — the frame slicing is the operator under test)
    from docarray_spark.operators.multimodal import sample_frames

    vid_src = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.expr(
            "transform(sequence(0, 35), i -> "
            "cast(ascii(substring(text, 1 + (i % length(text)), 1)) as float))"
        ).alias("frames"),
        F.lit(2).alias("height"), F.lit(2).alias("width"), F.lit(3).alias("channels"),
    )
    video = sample_frames(vid_src, every_k=2).select(
        F.lit("video").alias("part"),
        "id", "parent_id", "granularity", "offset", "height", "width", "channels",
        F.round(F.aggregate("pixels", F.lit(0.0), lambda a, x: a + x), 4).alias("pixel_sum"),
    )
    # 'mesh' part (r11): load_uri_to_point_cloud_tensor(as_chunks=True)
    # (reference mesh.py:12-42) — one chunk row per scene geometry, each
    # sampled to 16 points. The fake sampler tiles the blob's bytes as
    # float32 INTEGER coordinates (exact in float32) and takes the
    # geometry count from the md5 first byte, so the whole chain —
    # geometry fan-out, chunk-row encoding, per-geometry point sums —
    # hash-gates against a pure-SQL replay.
    from docarray_spark.operators.multimodal import point_cloud_chunks

    mesh = point_cloud_chunks(media, samples=16).select(
        F.lit("mesh").alias("part"),
        "id", "parent_id", "granularity", "offset",
        F.col("n_points").cast("int").alias("height"),
        F.lit(3).cast("int").alias("width"),
        F.lit(1).cast("int").alias("channels"),
        F.round(
            F.aggregate("points", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("pixel_sum"),
    )
    return img.unionByName(audio).unionByName(video).unionByName(mesh)



# ------------------------------------------- round-2 pipeline extensions


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (per-source groups, 256-token
    bins): one hash exchange on the group key; the cumsum window and the
    per-bin rollup share it. Per-bin doc counts + started-token totals."""
    from docarray_spark.operators import pack_summary

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("n_tokens"),
    )
    return pack_summary(
        docs, capacity=256, token_col="n_tokens",
        group_col="source", order_col="doc_id",
    )


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-level corpus dedup, part-tagged:

    - part='units': 6-token-block 'paragraph' dedup keeping the FIRST
      occurrence (RefinedWeb-style), documents rebuilt from surviving
      units. Complements boilerplate_removal (which drops ALL copies).
    - part='spans' (r5): exact-substring span dedup (Lee et al. 2022
      semantics — every 8-token window occurring more than once is cut
      except at its globally first occurrence; overlapping windows merge
      into maximal spans via gaps-and-islands). Fully relational, so the
      oracle replays window hashing, first-occurrence ranking, island
      merging, and the token-level rebuild in SQL.

    Shared schema: (part, doc_id, clean_text, units_total,
    units_removed) — for 'spans' the unit is a TOKEN."""
    from docarray_spark.operators import dedup_units_first, token_blocks_col
    from docarray_spark.operators.dedup import remove_duplicate_spans
    from docarray_spark.operators.text import tokens_col

    from docarray_spark.functions.localexec import ensure_parallelism

    from docarray_spark.functions.localexec import eager_cache

    # spread the single-split scan so the units explode and the span
    # window pass parallelize (no-op at scale), THEN persist: the units
    # part and both halves of the spans part (window marking + token
    # rebuild join) scan the same documents subtree — persist once.
    # r13: materialize EAGERLY — the units map stage and the spans whash
    # stage are submitted concurrently and raced to build this cache
    # (stage attribution: 91.6 s task-CPU for the two stages lazy vs
    # 25.1 s with the cache built first; wall-neutral at sf0.1 — min
    # 2.06 vs 2.15 s matched A/B — but the racing recompute is pure
    # waste at scale, r12 opt pass 2 pathology). Left cached for the
    # caller to clear (module docstring, cache contract).
    docs = eager_cache(ensure_parallelism(_t(spark, sf_dir, "documents")).persist())
    units = dedup_units_first(
        docs.withColumn("units", token_blocks_col("text", 6)),
        id_col="doc_id", units="units",
    ).select(
        F.lit("units").alias("part"), "doc_id", "clean_text",
        F.col("units_total").cast("long").alias("units_total"),
        F.col("units_removed").cast("long").alias("units_removed"),
    )
    sp = remove_duplicate_spans(
        docs.select("doc_id", "text").withColumn(
            # array_remove matches the oracle's list_filter: blank docs
            # have 0 tokens, not [''] (ADVICE r5)
            "_ntok", F.size(F.array_remove(tokens_col("text"), ""))
        ),
        window=8, id_col="doc_id", text_col="text",
    )
    spans = sp.select(
        F.lit("spans").alias("part"), "doc_id",
        F.col("text").alias("clean_text"),
        F.col("_ntok").cast("long").alias("units_total"),
        F.col("n_removed_tokens").cast("long").alias("units_removed"),
    )
    return units.unionByName(spans)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings (k=8, 2 iterations):
    deterministic md5 hash-sample init, zero-shuffle literal-fold argmin
    assignment, map-side-combinable per-dimension centroid means. Output:
    cluster sizes + rounded centroid norms; oracle = the same iterations
    unrolled as SQL CTEs."""
    from docarray_spark.operators import kmeans_summary

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_summary(emb, k=8, n_iter=2, id_col="vec_id", emb_col="embedding")


def q_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF triples over the documents corpus (exact-vocabulary
    sparse embeddings; sf-bounded slice so the gate compares a stable
    subset). tf/df aggregations are map-side combinable; vocab ids use the
    two-phase distributed rank; N replicates as a broadcast 1-row agg."""
    from docarray_spark.operators import tfidf_vectors

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_vectors(docs, id_col="doc_id", text_col="text")
    return out.filter(F.col("doc_id") < 100)




def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a 'new crawl' against ingested history: docs
    >= 250 plus synthesized near-dups (first 4 words dropped) probed
    against docs < 250. Exact = fingerprint anti-probe; near = shared
    r=1 MinHash band buckets. History ships only fixed-width keys."""
    from docarray_spark.operators.dedup import dedup_against

    docs = _t(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") < 250).select(
        F.col("doc_id").alias("id"), "text"
    )
    fresh = docs.filter(F.col("doc_id") >= 250).select(
        F.col("doc_id").alias("id"), "text"
    )
    mutated = (
        docs.filter((F.col("doc_id") < 250) & (F.col("doc_id") % 10 == 0))
        .select(
            (F.col("doc_id") + 100000).alias("id"),
            F.array_join(
                F.slice(F.split(F.trim("text"), r"\s+"), 5, 1_000_000), " "
            ).alias("text"),
        )
    )
    # the r6 broadcast-probe plan references the new batch three times
    # (fingerprints, band minima, output ids) — persist it once, exactly
    # as a real crawl batch would already be in memory
    new = fresh.unionByName(mutated).persist()
    return dedup_against(new, seen, id_col="id")




def q_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool member embeddings per label group (the reference's
    parent-from-chunks embedding aggregation): map-side-combinable per-dim
    hash agg — the exchange carries groups*dims partials, not vectors.
    Emitted as per-dim rows for a scalar-exact oracle."""
    from docarray_spark.operators import pool_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    pooled = pool_embeddings(emb, "label", how="mean", round_to=6)
    return pooled.select(
        "label", "n_members", F.posexplode("pooled").alias("dim", "value")
    ).select("label", "n_members", F.col("dim").cast("long").alias("dim"), "value")




def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, bucketized: events matched to their
    user's first-active-hour window [min_ts, min_ts + 1h). The bucket trick
    turns the range predicate into an equi-join on (user, bucket) plus the
    range residual — no O(N·M) nested loop."""
    from docarray_spark.functions.timeutil import epoch_us_col
    from docarray_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pts = ev.withColumn("t_us", epoch_us_col(ev, "ts")).select(
        "event_id", "user_id", (F.col("t_us") / 1e6).alias("t_s")
    )
    win = (
        pts.groupBy("user_id")
        .agg(F.min("t_s").alias("win_start"))
        .withColumn("win_end", F.col("win_start") + 3600.0)
    )
    out = range_join(
        pts, win, left_point="t_s", right_start="win_start",
        right_end="win_end", by=["user_id"], bucket_width=600.0,
    )
    return out.select("event_id", "user_id").orderBy("event_id")


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation over a deliberately hot key space
    (event_type has ~4 values over the whole log): phase 1 splits each hot
    key across 16 salted reducers, phase 2 merges partials — result is
    bit-identical to the plain GROUP BY, which is the oracle."""
    from docarray_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev, ["event_type"],
        {"n": ("event_id", "count"), "max_val": ("value", "max"),
         "min_event": ("event_id", "min")},
        n_salts=16,
    )
    return out.select("event_type", "n", F.round("max_val", 6).alias("max_val"),
                      "min_event")


# --------------------------------------------------- structured streaming

_LANDING_CACHE: dict[str, str] = {}


def _stream_partitions(spark: SparkSession, n: str | None = None):
    """Scoped shuffle-partition override for the streaming drains: each
    stateful operator materializes one state-store instance PER shuffle
    partition at query start, which dominates wall clock when the keyed
    state is small (interval join at 32 partitions: 7.4 s warm; at 8:
    2.7 s — r3 measurement; r13 matched A/B at sf0.1, min of alternating
    reps: counts_dedup 1.55/1.47/1.38 s, session_windows 1.40/1.35/1.51,
    interval_join 2.85/2.73/2.39 at 8/4/2 partitions — the r12 scaling
    block's 0.61–0.87 ratios said 8 still over-provisioned, so the local
    default drops to 4). Size state partitions to key cardinality, not
    the batch shuffle default; a 100 TB deployment raises it via
    ``SPARK_GRAFT_STREAM_PARTITIONS`` (the same knob the driver's bench
    inherits). Restores the session conf on exit."""
    import os
    from contextlib import contextmanager

    if n is None:
        n = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")

    @contextmanager
    def _scope():
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return _scope()


def _events_stream(spark: SparkSession, sf_dir: str):
    """events → a temp landing dir → file-source stream (availableNow).
    The landing copy is written once per (process, sf_dir), and carries
    ONLY the columns the streaming entries consume — the unused ``props``
    JSON string was 5/6 of the landing write (5.8 s → 1.1 s at sf0.1,
    r9 cold-tail profile; VERDICT r8 #3)."""
    import os
    import tempfile

    from docarray_spark.streaming import read_stream

    landing = _LANDING_CACHE.get(sf_dir)
    if landing is None or not os.path.isdir(landing):
        landing = tempfile.mkdtemp(prefix="sg_stream_")
        _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        ).repartition(4).write.mode("overwrite").parquet(landing)
        _LANDING_CACHE[sf_dir] = landing
    return read_stream(spark, landing, spark.read.parquet(landing).schema)


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked 1-hour tumbling-window aggregation, drained with
    availableNow into a memory sink; complete-mode output == the batch
    aggregation, so the batch SQL below is an exact oracle."""
    import uuid

    from docarray_spark.streaming import run_to_memory_sink, windowed_counts

    sdf = _events_stream(spark, sf_dir)
    out = windowed_counts(sdf, "ts", ["event_type"], window_duration="1 hour")
    name = f"t_win_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_to_memory_sink(out, name, output_mode="complete")
    return spark.table(name).select(
        "window_start", "event_type", "n", F.round("sum_value", 4).alias("sum_value")
    )


def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark on a content
    fingerprint): surviving key set == batch DISTINCT."""
    import uuid

    from docarray_spark.streaming import run_to_memory_sink, streaming_dedup

    sdf = _events_stream(spark, sf_dir)
    out = streaming_dedup(sdf, ["user_id", "event_type"], ts_col="ts",
                          watermark="3650 days")
    name = f"t_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_to_memory_sink(out, name)
    return spark.table(name).select("user_id", "event_type")


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization (``session_window``, 15-min gap)
    drained availableNow in complete mode — equals batch sessionization
    with a >=-gap boundary and end = last event + gap, so the batch window
    SQL below is an exact oracle."""
    import uuid

    from docarray_spark.streaming import run_to_memory_sink, session_windows

    sdf = _events_stream(spark, sf_dir)
    out = session_windows(sdf, "ts", ["user_id"], gap="900 seconds",
                          watermark="3650 days", value_col="value")
    name = f"t_sess_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_to_memory_sink(out, name, output_mode="complete")
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        "sum_value",
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (views preceding each click
    by <=10 min, per user): watermarked both sides + time-bounded condition
    so state stays finite; inner-join matches emit eagerly under
    availableNow. Equals the batch interval join, hence an exact oracle."""
    import uuid

    from docarray_spark.streaming import run_to_memory_sink, stream_interval_join

    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select("user_id", "ts", F.col("event_id").alias("click_event"))
    views = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        "user_id", F.col("ts").alias("rts"), F.col("event_id").alias("view_event")
    )
    out = stream_interval_join(
        clicks, views, ["user_id"], max_lag_seconds=600, watermark="3650 days"
    )
    name = f"t_sij_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_to_memory_sink(out, name)
    return spark.table(name).select(
        "user_id", "click_event", "view_event",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("rts").alias("view_us"),
    )



# ------------------------------------------------- round-3 merged entries
#
# The driver's correctness gate verifies the FIRST 50 registry entries
# (VERDICT r2 "what's wrong" #1: 72 entries left 22 without an oracle row).
# Round 3 merges thin entries into part-tagged unions — the same operators
# run, and every part keeps its full row-level hash gate — so the registry
# fits the window with margin; previously-unverified entries are ordered
# first. tests/test_entry.py pins len(queries()) <= 50.


def q_ql_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: ql_filter_range + ql_filter_regex (identical schemas,
    part-tagged union)."""
    a = q_ql_filter_range(spark, sf_dir).select(F.lit("range").alias("part"), "*")
    b = q_ql_filter_regex(spark, sf_dir).select(F.lit("regex").alias("part"), "*")
    return a.unionByName(b)


def q_knn_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: the four bounded-query exact kNN entries (cosine with
    exclude_self, QL-filtered sqeuclidean, min-max-normalized euclidean,
    max-inner-product) — identical schemas; metric_name distinguishes."""
    out = q_knn_cosine(spark, sf_dir)
    for q in (q_knn_sqeuclidean_filtered, q_knn_euclidean_normalized,
              q_knn_inner_product):
        out = out.unionByName(q(spark, sf_dir))
    return out


def q_sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3 (+r9 shard part): the deterministic samplers as
    (part, doc_id) rows — md5-threshold hash sample, per-source stratified
    fractions, quality-weighted resampling, per-source cap, train/val/test
    split labels, and the save_shards sink's md5 shard assignment. The
    split and shard parts gate EVERY doc's assignment. All parts except
    cap are map-only md5 expressions fused into the scan; cap is one
    group-key exchange."""
    from docarray_spark.operators import (
        cap_per_group,
        stratified_hash_sample,
        weighted_hash_sample,
        with_split,
    )
    from docarray_spark.sources import shard_col

    docs = _t(spark, sf_dir, "documents")
    parts = [
        hash_sample(docs, "doc_id", 0.5)
        .select(F.lit("hash").alias("part"), "doc_id"),
        stratified_hash_sample(
            docs.select("doc_id", "source", "lang"), "source",
            {"src0": 0.8, "src1": 0.25, "src2": 0.5},
            id_col="doc_id", default_fraction=0.1,
        ).select(F.lit("stratified").alias("part"), "doc_id"),
        weighted_hash_sample(
            docs.select(
                "doc_id", "source",
                F.least(F.lit(1.0), F.col("n_chars") / 300.0).alias("weight"),
            ),
            "weight", id_col="doc_id",
        ).select(F.lit("weighted").alias("part"), "doc_id"),
        cap_per_group(
            docs.select("doc_id", "source", "lang"), "source", 15, id_col="doc_id"
        ).select(F.lit("cap").alias("part"), "doc_id"),
        with_split(
            docs, {"train": 0.98, "val": 0.01, "test": 0.01}, id_col="doc_id"
        ).select(F.concat(F.lit("split_"), F.col("split")).alias("part"), "doc_id"),
        # r9: deterministic training-shard assignment (the save_shards
        # sink's md5 layout, sources/writers.py) — gates every doc's shard
        docs.select(
            F.concat(
                F.lit("shard_"), shard_col("doc_id", 8).cast("string")
            ).alias("part"),
            "doc_id",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_vocab_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: get_vocabulary (token frequencies + deterministic ids) and
    corpus bigram counts (top 50) as (part, term, n, term_id) rows."""
    from docarray_spark.operators import ngram_counts

    docs = _t(spark, sf_dir, "documents")
    v = vocabulary(docs, min_count=5).select(
        F.lit("vocab").alias("part"), F.col("token").alias("term"),
        F.col("count").alias("n"), F.col("token_id").cast("long").alias("term_id"),
    )
    g = ngram_counts(docs, "text", n=2, top=50).select(
        F.lit("bigram").alias("part"), F.col("gram").alias("term"),
        F.col("n_occurrences").alias("n"), F.lit(None).cast("long").alias("term_id"),
    )
    return v.unionByName(g)


def q_temporal_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: as-of join (union-window, one shuffle) + bucketized
    point-in-interval range join, part-tagged."""
    a = q_asof_join(spark, sf_dir).select(
        F.lit("asof").alias("part"), "event_id", "user_id", "view_event"
    )
    r = q_range_join(spark, sf_dir).select(
        F.lit("range").alias("part"), "event_id", "user_id",
        F.lit(None).cast("long").alias("view_event"),
    )
    return a.unionByName(r)


def q_roundtrip_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: lossless round-trips through three storage/wire codecs —
    lang-partitioned parquet store (save_binary replacement), per-doc
    JSON×gzip wire frames, and per-doc protobuf wire-format frames
    (pure-python encoder, functions/wire.py; reference
    io/binary.py:40-170, porting.py:85-130). Every part must equal the
    source table exactly."""
    from docarray_spark.functions import docs_from_bytes, docs_to_bytes

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    docs = _t(spark, sf_dir, "documents").select(*cols)
    store = q_store_roundtrip(spark, sf_dir).select(F.lit("store").alias("part"), *cols)
    jg = docs_from_bytes(
        docs_to_bytes(docs, protocol="json", compress="gzip"), ddl,
        protocol="json", compress="gzip",
    ).select(F.lit("json_gzip").alias("part"), *cols)
    pb = docs_from_bytes(
        docs_to_bytes(docs, protocol="protobuf"), ddl, protocol="protobuf"
    ).select(F.lit("protobuf").alias("part"), *cols)
    # r4: vector fields ride the wire as dense NdArrayProto nested
    # messages (docarray.proto:9-18 via field 16) — the part gates that a
    # float32 embedding round-trips VALUE-EXACT through the nested frame:
    # text = floor(||v||²·1e6 + .5) of the DECODED vector, an integer
    # fingerprint of every dimension, vs the oracle computing the same
    # from the source column (f4→f8 is exact, both folds are sequential).
    fids = {"vec_id": 1, "embedding": 16}
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dec = docs_from_bytes(
        docs_to_bytes(emb, protocol="protobuf", proto_fields=fids),
        "vec_id bigint, embedding array<float>",
        protocol="protobuf", proto_fields=fids,
    )
    norm2 = F.aggregate(
        F.expr("transform(embedding, x -> cast(x as double))"),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    nd = dec.select(
        F.col("vec_id").alias("doc_id"),
        F.floor(norm2 * F.lit(1e6) + F.lit(0.5)).cast("long").cast("string").alias("text"),
        F.lit("<f4").alias("lang"),
        F.lit("pb_ndarray").alias("source"),
        F.size("embedding").cast("long").alias("n_chars"),
    ).select(F.lit("pb_ndarray").alias("part"), *cols)
    return store.unionByName(jg).unionByName(pb).unionByName(nd)


def _semdedup_base(spark: SparkSession, sf_dir: str):
    """Shared gated-SemDeDup corpus: embeddings ∪ perturbed copies (every
    20th vector +0.01, so each copy pairs with its source) + the 4 fixed
    centroids (first 4 embedding rows) — ONE recipe for the p=1 and p=2
    parts so it cannot desync from the oracle's shared b0/cents CTEs
    (r10 review; also collects the centroids once, not per part)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    copies = emb.filter(F.col("id") % 20 == 0).select(
        (F.col("id") + 100000).alias("id"),
        F.expr("transform(embedding, x -> x + 0.01d)").alias("embedding"),
    )
    base = emb.unionByName(copies)
    cents = [
        (int(r.id), [float(x) for x in r.embedding])
        for r in emb.filter("id < 4").collect()  # 4 rows — bounded
    ]
    return base, cents


def q_semantic_dedup_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semantic_dedup, Abbas et al. 2023) with
    FIXED centroids (the first 4 embedding rows) so the whole pipeline —
    sqeuclidean cell assignment, within-cell cosine components, keep-low-
    centroid-similarity policy — is deterministic and SQL-replayable
    (VERDICT r8 #2: the one dedup family that wasn't oracle-gated)."""
    from docarray_spark.operators import semantic_dedup

    base, cents = _semdedup_base(spark, sf_dir)
    return semantic_dedup(
        base, centroids=cents, eps=0.05, id_col="id", emb_col="embedding",
        round_to=6,
    )


def q_semantic_dedup_p2_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup MULTI-PROBE (r10): the same fixed-centroid pipeline as
    :func:`q_semantic_dedup_part` at ``n_probe=2`` — every row is probed
    into its TWO nearest cells, within-cell components are unioned into
    GLOBAL connected components (operators/dedup._semantic_dedup_multi),
    catching near-dup pairs whose primary cells differ. The whole path is
    SQL-replayable: top-2 assignment is a row_number over the 4-centroid
    cross join, the probed-cell pair edges feed the same WITH RECURSIVE
    transitive closure, keep policy unchanged. persist=False: the entry
    must not pin the probed assignment in a long-lived session (the one
    extra assignment pass is trivially cheap at oracle scale)."""
    from docarray_spark.operators import semantic_dedup

    base, cents = _semdedup_base(spark, sf_dir)
    return semantic_dedup(
        base, centroids=cents, eps=0.05, id_col="id", emb_col="embedding",
        round_to=6, n_probe=2, persist=False,
    )


def q_dedup_embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: embedding-cosine near-dup pairs, both gates — the
    'exact_gate' part (thr 0.01, 12 planes × 8 tables) is oracle-checked
    against the exact all-pairs set (pins recall ≈ 1); the 'bucket_gate'
    part (thr 0.05, 12 planes × 4 tables) is checked against an oracle
    that mirrors the LSH bucketing itself (pins candidate generation —
    r3 raised it from 8 planes: 8 put ~200 ids in every bucket at sf0.1,
    a 21M-pair verify join for no extra gate strength). r9 adds the
    'semantic' part: the full SemDeDup output (cells, dup groups, keep
    policy) hash-checked against a DuckDB transitive-closure replay.
    r10 adds 'semantic_p2': the multi-probe variant — top-2 cell
    assignment, per-probed-cell edges, GLOBAL components — replayed by
    the same recursive CTE over the union of probed-cell pair edges."""
    # exact_gate + bucket_gate FUSED (r13, guide §2.4): the two pipelines
    # differed only in (num_tables, threshold) over the same input, and
    # hyperplane signs derive per (seed, table, plane) independently of
    # num_tables — so one signature pass + one bucket join + ONE exact
    # cosine verify serves both gates bit-identically (the 4-table gate's
    # candidates are exactly min(table) < 4), with a recall-safe
    # Cauchy–Schwarz prefilter ahead of the vector re-joins
    # (dedup.embedding_dup_pair_gates; equivalence pinned in test_dedup).
    from docarray_spark.operators.dedup import embedding_dup_pair_gates

    # r13 session 2 (guide §2.6 — overlap independent jobs): the three
    # pipelines are independent, and BUILDING them runs driver-blocking
    # jobs serially — the gates' eager signature count, each semantic
    # part's centroid collect, and the p2 part's union-find edge collect.
    # Constructing them on threads overlaps those chains (the same pattern
    # as text_search_bm25's modality lists and the streaming drains);
    # matched alternating A/B at sf0.1: min 3.86 → 2.42 s, rows identical.
    def _ab() -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"),
            F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
        )
        copies = emb.filter(F.col("id") % 20 == 0).select(
            (F.col("id") + 100000).alias("id"),
            F.expr("transform(embedding, x -> x + 0.01d)").alias("embedding"),
        )
        return embedding_dup_pair_gates(
            emb.unionByName(copies),
            gates=[("exact_gate", 8, 0.01), ("bucket_gate", 4, 0.05)],
            id_col="id", num_planes=12, seed=42, round_to=6, dim=64,
        )

    def _c() -> DataFrame:
        return q_semantic_dedup_part(spark, sf_dir).select(
            F.lit("semantic").alias("part"), "*"
        )

    def _d() -> DataFrame:
        return q_semantic_dedup_p2_part(spark, sf_dir).select(
            F.lit("semantic_p2").alias("part"), "*"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_ab, f_c, f_d = _submit(pool, _ab), _submit(pool, _c), _submit(pool, _d)
        ab, c, d = f_ab.result(), f_c.result(), f_d.result()
    # keep rides as INT: a null BOOLEAN stringifies engine-dependently
    # (None vs NaN) while null numerics agree — hash-safe like the other
    # suites' NULL pad columns
    out = ab
    for part in (c, d):
        out = out.unionByName(
            part.withColumn("keep", F.col("keep").cast("int")),
            allowMissingColumns=True,
        )
    return out


def q_dedup_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: MinHash+LSH near-dup pairs and the exact inverted-index
    n-gram Jaccard all-pairs set (its ground truth), part-tagged.

    r13 (guide §2.4): both parts ran ``with_word_shingles`` over the SAME
    near-dup corpus — two full tokenize+shingle passes per entry (no
    cross-branch CSE). ONE persisted ``(_id, _sh)`` table now feeds the
    minhash chain AND the inverted-index explode via the operators'
    ``shingles=`` contract; the shingle expression is the identical one
    each operator would have built, so every pair/jaccard value is
    unchanged (pinned in tests/test_dedup.py; plus the entry oracle)."""
    from pyspark import StorageLevel

    from docarray_spark.functions.localexec import eager_cache, ensure_parallelism
    from docarray_spark.operators import ngram_jaccard_exact_pairs
    from docarray_spark.operators.dedup import with_word_shingles

    base = _docs_with_neardups(spark, sf_dir)
    sh = with_word_shingles(ensure_parallelism(base), "text", 3).select(
        F.col("id").alias("_id"), "_sh"
    )
    # eager: the minhash-bucket and posting materializations otherwise race
    # to build this cache from both parts at once (r12 opt pass 2). Left
    # cached for the caller to clear (module docstring, cache contract).
    sh = eager_cache(sh.persist(StorageLevel.MEMORY_AND_DISK))

    # overlap the two parts' construction (guide §2.6): each blocks on its
    # own eager materialization (minhash buckets / posting list) — both
    # read the already-built shingle cache, so the two counts are
    # independent jobs; matched A/B at sf0.1: min 4.47 → 3.45 s
    def _m() -> DataFrame:
        return minhash_dedup_pairs(
            base, id_col="id", text_col="text", shingle_n=3, num_bands=16,
            threshold=0.4, round_to=6, num_rows=2, shingles=sh,
        ).select(F.lit("minhash_lsh").alias("part"), "*")

    def _e() -> DataFrame:
        return ngram_jaccard_exact_pairs(
            base, id_col="id", text_col="text", shingle_n=3, threshold=0.4,
            round_to=6, shingles=sh,
        ).select(F.lit("exact").alias("part"), "*")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_m, f_e = _submit(pool, _m), _submit(pool, _e)
        m, e = f_m.result(), f_e.result()
    return m.unionByName(e)


def q_group_batch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: split_by_tag group counts + batch(batch_size) id rollup
    as (part, key, n, min_id, max_id) rows."""
    g = q_group_counts(spark, sf_dir).select(
        F.lit("group").alias("part"), F.col("group_key").alias("key"),
        "n", F.col("first_offset").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
    )
    b = q_batch_ids(spark, sf_dir).select(
        F.lit("batch").alias("part"), F.col("batch_id").cast("string").alias("key"),
        "n", "min_id", "max_id",
    )
    return g.unionByName(b)


def q_reduce_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: flat merge-by-id reduce + RECURSIVE reduce_all over the
    chunked adjacency trees, part-tagged on a widened common schema."""
    m = q_reduce_merge(spark, sf_dir).select(
        F.lit("merge").alias("part"), F.col("id").cast("string").alias("id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(None).cast("int").alias("granularity"),
        "text", "n_chars", F.lit(None).cast("double").alias("weight"),
    )
    n = q_reduce_nested(spark, sf_dir).select(
        F.lit("nested").alias("part"), "id", "parent_id", "granularity",
        "text", F.lit(None).cast("long").alias("n_chars"), "weight",
    )
    return m.unionByName(n)


def q_traverse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: the three traversal-DSL entries — 'c[:1],cc[-1]' paths,
    '.[banner, paragraphs]' multimodal attribute selectors, and 'm[:3]'
    match hops — part-tagged."""
    p = q_traverse_paths(spark, sf_dir).select(F.lit("paths").alias("part"), "*")
    a = q_traverse_attrs(spark, sf_dir).select(F.lit("attrs").alias("part"), "*")
    m = q_traverse_matches(spark, sf_dir).select(
        F.lit("matches").alias("part"), "id", "parent_id", "granularity",
        F.lit(None).cast("string").alias("text"),
    )
    return p.unionByName(a).unionByName(m)


def q_slice_crud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3 as ONE CRUD pipeline (getitem → setitem → pop → delitem →
    MERGE-by-id): offset-range slice [100:400:3], conditional bulk upper-
    case on src0, lang pop (null-out), delete n_chars>900, then point
    updates for every 7th doc merged with incoming priority. Composes the
    old slice_project + crud_update + update_by_id entries."""
    docs = _t(spark, sf_dir, "documents").withColumn("offset", F.col("doc_id"))
    s = slice_by_offset(docs, 100, 400, step=3)
    s = set_attrs_where(s, F.col("source") == "src0", text=F.upper(F.col("text")))
    s = pop_attrs(s, ["lang"])
    s = delete_where(s, F.col("n_chars") > 900)
    updates = s.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit("UPDATED").alias("text")
    )
    out = update_by_id(s, updates, id_col="doc_id")
    return out.select("doc_id", "text", "lang", "source", "n_chars")


def q_content_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: per-doc content encoders as (part, doc_id, value) rows —
    the full 16-dim feature-hash count vector (CSV; gates every slot incl.
    zeros, stronger than the old nonzero-only explode), the vocab-id
    tensor CSV, and the RFC-2397 data URI."""
    docs = _t(spark, sf_dir, "documents")
    hashed = feature_hash(docs, id_col="doc_id", n_dims=16, out_col="vec")
    csv = F.concat_ws(",", F.transform("vec", lambda x: x.cast("string")))
    fh = hashed.select(
        F.lit("feature_hash").alias("part"), "doc_id",
        F.when(F.col("vec").isNotNull(), csv).alias("value"),
    )
    tt = q_text_to_tensor(spark, sf_dir).select(
        F.lit("text_tensor").alias("part"), "doc_id",
        F.col("tensor_csv").alias("value"),
    )
    du = q_datauri(spark, sf_dir).select(
        F.lit("datauri").alias("part"), "doc_id", F.col("datauri").alias("value")
    )
    return fh.unionByName(tt).unionByName(du)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: one wide per-doc text-analysis row — quality stats
    (text_stats), stopword-profile language ID, and whitespace + BPE-ish
    token counts. The ops CHAIN (each appends columns), so the whole
    profile stays a single map-only projection over one scan."""
    from docarray_spark.operators import bpe_token_count_col

    docs = _t(spark, sf_dir, "documents")
    out = lang_id(text_stats(docs))
    ws = F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
    return out.select(
        "doc_id", "lang",
        F.col("token_count").cast("long").alias("token_count"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("type_token_ratio", 6).alias("type_token_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
        "lang_pred",
        F.round("lang_pred_score", 6).alias("lang_pred_score"),
        ws.cast("long").alias("ws_tokens"),
        bpe_token_count_col(F.col("text")).alias("bpe_tokens"),
    )


def q_stream_counts_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3: streaming watermarked 1-hour windowed aggregation +
    streaming exact key-dedup (dropDuplicatesWithinWatermark), as
    (part, key, n, sum_value) rows — both drained availableNow and equal
    to their batch twins, so the oracle is exact."""
    # The two drains are INDEPENDENT availableNow queries over the same
    # landing — run them on threads so their micro-batches overlap on the
    # executor pool (guide §2.6; the sequential form serialized two
    # state-store init + commit rounds). The landing is materialized once
    # up front so the threads share it; the shared shuffle-partition
    # scope wraps both (the inner scopes then set/restore the same value,
    # race-free).
    from concurrent.futures import ThreadPoolExecutor

    _events_stream(spark, sf_dir)  # materialize the landing once
    with _stream_partitions(spark):
        with ThreadPoolExecutor(max_workers=2) as pool:
            fw = _submit(pool, q_stream_windowed_counts, spark, sf_dir)
            fd = _submit(pool, q_stream_dedup_keys, spark, sf_dir)
            wdf, ddf = fw.result(), fd.result()
    w = wdf.select(
        F.lit("window").alias("part"),
        F.concat(
            F.unix_micros("window_start").cast("string"), F.lit("|"), "event_type"
        ).alias("key"),
        "n",
        F.col("sum_value"),
    )
    d = ddf.select(
        F.lit("dedup").alias("part"),
        F.concat(F.col("user_id").cast("string"), F.lit("|"), "event_type").alias("key"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return w.unionByName(d)


def q_stream_neardup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest gate (streaming/ops.py:
    streaming_fingerprint_dedup): documents stream in with a synthetic
    event time, each is SimHash-fingerprinted with the batch passes' exact
    expression, and only first arrivals per fingerprint survive. The
    surviving key set equals batch SELECT DISTINCT simhash — exact oracle
    (the same fp CTE the dedup_simhash_pairs oracle uses)."""
    import os
    import tempfile
    import uuid

    from docarray_spark.streaming import (
        read_stream,
        run_to_memory_sink,
        streaming_fingerprint_dedup,
    )

    key = "docs:" + sf_dir
    landing = _LANDING_CACHE.get(key)
    if landing is None or not os.path.isdir(landing):
        landing = tempfile.mkdtemp(prefix="sg_docstream_")
        # +1: epoch 0 equals the operator's INITIAL watermark and would be
        # filtered as late (doc 0 silently vanished without it)
        _t(spark, sf_dir, "documents").select(
            "doc_id", "text", F.timestamp_seconds(F.col("doc_id") + 1).alias("ts")
        ).repartition(4).write.mode("overwrite").parquet(landing)
        _LANDING_CACHE[key] = landing
    sdf = read_stream(spark, landing, spark.read.parquet(landing).schema)
    out = streaming_fingerprint_dedup(sdf, "text", "ts", watermark="3650 days")
    name = f"t_neardup_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_to_memory_sink(out, name)
    return spark.table(name).select("simhash")


def q_dedup_simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r3b: the SimHash fingerprint table and its banded near-dup
    pairs as (part, a, b, v) rows — 'fingerprints' carries (doc_id, NULL,
    simhash), 'pairs' carries (id_a, id_b, hamming); every original column
    keeps its full row-level gate."""
    fp = q_dedup_simhash(spark, sf_dir).select(
        F.lit("fingerprints").alias("part"), F.col("doc_id").alias("a"),
        F.lit(None).cast("long").alias("b"), F.col("simhash").alias("v"),
    )
    pr = q_dedup_simhash_pairs(spark, sf_dir).select(
        F.lit("pairs").alias("part"), F.col("id_a").alias("a"),
        F.col("id_b").alias("b"), F.col("hamming").cast("long").alias("v"),
    )
    return fp.unionByName(pr)


def q_relational_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-style relational analytics over the driver's warehouse tables
    (customer/orders/lineitem/nation/region/supplier — previously unused by
    the registry) as (part, key, value) rows:

    - 'q1': pricing summary — lineitem scan-filtered on ship date, grouped
      by (returnflag, linestatus), metrics unpivoted per row. Revenue-class
      sums accumulate in DECIMAL so the result is EXACT and
      summation-order-independent on every engine (no float-rounding
      tolerance needed at 60k-row magnitudes).
    - 'q3': shipping-priority top-10 — customer(BUILDING) ⋈ orders ⋈
      lineitem with date predicates pushed to the scans, revenue per order,
      TakeOrderedAndProject top-k.
    - 'q5': ASIA nation revenue — region ⋈ nation broadcast into customer ⋈
      orders ⋈ lineitem ⋈ supplier with the Q5 same-nation constraint.
    - 'q14': promo revenue share — lineitem ⋈ broadcast part, conditional
      DECIMAL sums; the division runs on two exact decimals, so the ratio
      is bit-identical across engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    sup = _t(spark, sf_dir, "supplier")
    dec = "decimal(38,6)"
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)

    q1 = (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(dec)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(dec)).alias("sum_base"),
            F.sum(rev).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.concat(F.lit("q1|"), "l_returnflag", F.lit("|"), "l_linestatus").alias("_g"),
            F.explode(
                F.create_map(
                    F.lit("sum_qty"), F.col("sum_qty").cast("double"),
                    F.lit("sum_base"), F.col("sum_base").cast("double"),
                    F.lit("sum_disc_price"), F.col("sum_disc_price").cast("double"),
                    F.lit("count"), F.col("n").cast("double"),
                )
            ).alias("m", "value"),
        )
        .select(F.lit("q1").alias("part"), F.concat("_g", F.lit("|"), "m").alias("key"), "value")
    )

    q3 = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.to_date("o_orderdate") < F.lit("1997-06-01").cast("date"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.to_date("l_shipdate") > F.lit("1997-06-01").cast("date"))
        .groupBy("o_orderkey")
        .agg(F.sum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            F.lit("q3").alias("part"),
            F.concat(F.lit("q3|"), F.col("o_orderkey").cast("string")).alias("key"),
            F.col("revenue").cast("double").alias("value"),
        )
    )

    asia = nat.join(
        F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    q5 = (
        cust.join(F.broadcast(asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(sup, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue"))
        .select(
            F.lit("q5").alias("part"),
            F.concat(F.lit("q5|"), "n_name").alias("key"),
            F.col("revenue").cast("double").alias("value"),
        )
    )
    parts = _t(spark, sf_dir, "part")
    q14 = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(dec))).alias("promo"),
            F.sum(rev).alias("total"),
        )
        .select(
            F.lit("q14").alias("part"),
            F.lit("q14|promo_share").alias("key"),
            F.round(
                F.col("promo").cast("double") / F.col("total").cast("double"), 9
            ).alias("value"),
        )
    )
    return q1.unionByName(q3).unionByName(q5).unionByName(q14)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 corpus-statistics suite (operators/mix.py) as (part, key,
    value) rows — four pretraining-pipeline operators, all oracle-exact:

    - 'lm' / 'lm_n': per-doc average bigram log-likelihood under the
      corpus's own add-one-smoothed bigram LM (CCNet/KenLM-style
      perplexity filtering without an external model artifact).
    - 'mix' / 'mix_n': temperature-based source mixing weights
      (w_s ∝ n_s^0.7, the multilingual up-weighting recipe).
    - 'shuffle': deterministic global training-order rank by md5(seed|id)
      via the two-phase distributed row number — no global window.
    - 'pctl': exact per-source n_chars percentiles (linear interpolation,
      bit-identical between Spark percentile and DuckDB quantile_cont).
    """
    from docarray_spark.operators import (
        bigram_lm_score,
        global_shuffle_rank,
        percentile_stats,
        temperature_mix_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    key_id = F.col("doc_id").cast("string").alias("key")
    lm = bigram_lm_score(docs, id_col="doc_id")
    mix = temperature_mix_weights(docs, "source", alpha=0.7)

    def _unpivot(df, key, pairs):
        # two part-rows from ONE subtree: referencing the same DataFrame
        # in two union branches executes its whole pipeline twice (no
        # cross-branch CSE in Spark) — r12 profile: the bigram-LM joins
        # ran twice for the lm/lm_n pair. Same rows, same schema.
        return df.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(part).alias("part"), key.alias("key"),
                    val.alias("value"),
                )
                for part, val in pairs
            ])).alias("_r")
        ).select("_r.part", "_r.key", "_r.value")

    parts = [
        _unpivot(lm, key_id, [
            ("lm", F.col("lm_score")),
            ("lm_n", F.col("n_bigrams").cast("double")),
        ]),
        _unpivot(mix, F.col("source"), [
            ("mix", F.col("weight")),
            ("mix_n", F.col("n_docs").cast("double")),
        ]),
        global_shuffle_rank(docs.select("doc_id"), id_col="doc_id").select(
            F.lit("shuffle").alias("part"), key_id,
            F.col("rank").cast("double").alias("value"),
        ),
        percentile_stats(docs, "source", "n_chars", [0.25, 0.5, 0.75]).select(
            F.lit("pctl").alias("part"),
            F.concat("source", F.lit("|"), F.col("q").cast("string")).alias("key"),
            "value",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact top-k cosine similarity join (the reference's
    signature ``match`` operator) on sf0.001."""
    return q_knn_cosine(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries = the driver's 50-entry verification window (pinned in
    tests/test_entry.py). Entries that had NO oracle row in round 2
    (positions 51-72 then) come FIRST; round-2-green entries follow.
    Merged entries (r3) run the same operators part-tagged — see each
    ``q_*`` docstring for what folded in."""
    return {
        # --- no CORRECTNESS_r02 row (outside the old window): verify first
        "ann_ivf_cosine": q_ann_ivf_cosine,
        "ann_lsh_cosine": q_ann_lsh_cosine,
        "kmeans_clusters": q_kmeans_clusters,
        "pack_sequences": q_pack_sequences,
        "sampling_suite": q_sampling_suite,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_incremental": q_dedup_incremental,
        "tfidf_vectors": q_tfidf_vectors,
        "vocab_ngrams": q_vocab_ngrams,
        "embed_pool": q_embed_pool,
        "temporal_joins": q_temporal_joins,
        "skew_salted_agg": q_skew_salted_agg,
        "roundtrip_codecs": q_roundtrip_codecs,
        "dedup_embedding": q_dedup_embedding_suite,
        "embed_batch": q_embed_batch,
        "mm_image_chunks": q_mm_image_chunks,
        "stream_counts_dedup": q_stream_counts_dedup,
        "stream_neardup_keys": q_stream_neardup_keys,
        "stream_session_windows": q_stream_session_windows,
        "stream_interval_join": q_stream_interval_join,
        "corpus_stats": q_corpus_stats,
        # --- hash-green in CORRECTNESS_r02
        "ql_filter_docs": q_ql_filter_docs,
        "ql_filter_logic": q_ql_filter_logic,
        "ql_filter_size_placeholder": q_ql_filter_size_placeholder,
        "knn_suite": q_knn_suite,
        "knn_graph": q_knn_graph,
        "sparse_knn_cosine": q_sparse_knn_cosine,
        "group_batch_counts": q_group_batch_counts,
        "reduce_suite": q_reduce_suite,
        "cube_rollup": q_cube_rollup,
        "set_ops": q_set_ops,
        "traverse_suite": q_traverse_suite,
        "slice_crud": q_slice_crud,
        "content_codecs": q_content_codecs,
        "eval_metrics": q_eval_metrics,
        "text_profile": q_text_profile,
        "quality_gopher": q_quality_gopher,
        "boilerplate_removal": q_boilerplate_removal,
        "sessionize": q_sessionize,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "fingerprint_winnow": q_fingerprint_winnow,
        "doc_summary": q_doc_summary,
        "text_search_bm25": q_text_search_bm25,
        "nested_set": q_nested_set,
        "dedup_exact": q_dedup_exact,
        "dedup_text_pairs": q_dedup_text_pairs,
        "dedup_simhash": q_dedup_simhash_suite,
        "dedup_components": q_dedup_components,
        "relational_suite": q_relational_suite,
    }


# SimHash banded near-dup pairs as reusable CTEs (ends in `sh_pairs`):
# shared by the dedup_simhash_pairs oracle and as the edge list of the
# dedup_components recursive-CTE oracle.
_SIMHASH_PAIR_CTES = """fp AS (
              SELECT doc_id, CAST(list_aggregate(
                list_transform(range(0, 32), i ->
                  CASE WHEN list_sum(list_transform(toks, t ->
                    CASE WHEN (CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                               // CAST(power(2, i) AS BIGINT)) % 2 = 1
                         THEN 1 ELSE -1 END)) > 0
                       THEN CAST(power(2, i) AS BIGINT) ELSE 0 END),
                'sum') AS BIGINT) AS sh
              FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                    FROM documents)
            ),
            slices AS (
              SELECT doc_id, sh, b.band,
                     (sh // CAST(power(2, b.band * 8) AS BIGINT)) % 256 AS sliceval
              FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, l.sh AS sh_a,
                              r.doc_id AS id_b, r.sh AS sh_b
              FROM slices l JOIN slices r
                ON l.band = r.band AND l.sliceval = r.sliceval AND l.doc_id < r.doc_id
            ),
            sh_pairs AS (
              SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
              FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
            )"""


def _tag_union(parts: list[tuple[str, str]], cols: str = "*") -> str:
    """[(tag, sql)] → part-tagged UNION ALL; each sub-oracle keeps its own
    WITH block inside a derived table (DuckDB-supported)."""
    return "\nUNION ALL\n".join(
        f"SELECT '{t}' AS part, {cols} FROM (\n{s}\n)" for t, s in parts
    )


def oracle_sql() -> dict[str, str]:
    from docarray_spark.functions.lsh import signatures_sql_expr

    # md5-derived ±1 hyperplanes inlined as literal arrays: the oracle
    # reproduces the LSH bucketing itself, not just the verified output
    _sig_ann = signatures_sql_expr(64, 16, 4, 42, "v")      # ann_lsh_cosine
    _sig_dup = signatures_sql_expr(64, 4, 12, 42, "v")      # dedup_embedding_lsh
    s = {
        "ann_lsh_cosine": f"""
            WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
            sig AS (SELECT id, {_sig_ann} AS sigs FROM base),
            cb AS (
              SELECT s.id AS match_id, t.i AS tbl, s.sigs[t.i + 1] AS sg
              FROM sig s CROSS JOIN (SELECT unnest(range(0, 16)) AS i) t
            ),
            cand AS (
              SELECT DISTINCT q.match_id AS query_id, c.match_id
              FROM cb q JOIN cb c ON q.tbl = c.tbl AND q.sg = c.sg
              WHERE q.match_id < 8
            ),
            scored AS (
              SELECT cand.query_id, cand.match_id,
                     1 - list_cosine_similarity(bq.v, bc.v) AS score
              FROM cand JOIN base bq ON bq.id = cand.query_id
                        JOIN base bc ON bc.id = cand.match_id
            ),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY score, match_id) AS rnk FROM scored)
            SELECT query_id, match_id, rnk::INT AS rank, round(score, 6) AS score,
                   'cosine' AS metric_name
            FROM r WHERE rnk <= 10
        """,
        "dedup_embedding_lsh": f"""
            WITH base AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
              FROM embeddings WHERE vec_id % 20 = 0
            ),
            sig AS (SELECT id, {_sig_dup} AS sigs FROM base),
            b AS (
              SELECT s.id, t.i AS tbl, s.sigs[t.i + 1] AS sg
              FROM sig s CROSS JOIN (SELECT unnest(range(0, 4)) AS i) t
            ),
            cand AS (
              SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM b l JOIN b r ON l.tbl = r.tbl AND l.sg = r.sg AND l.id < r.id
            ),
            pairs AS (
              SELECT id_a, id_b,
                     round(1 - list_cosine_similarity(a.v, b2.v), 6) AS cosine_dist
              FROM cand JOIN base a ON a.id = cand.id_a
                        JOIN base b2 ON b2.id = cand.id_b
            )
            SELECT id_a, id_b, cosine_dist FROM pairs WHERE cosine_dist < 0.05
        """,
        "ql_filter_range": """
            SELECT * FROM documents
            WHERE lang = 'en' AND n_chars >= 100 AND n_chars < 400
        """,
        "ql_filter_logic": """
            SELECT * FROM events
            WHERE (event_type = 'click' OR value > 50.0)
              AND NOT COALESCE(user_id IN (1, 2, 3), FALSE)
        """,
        "ql_filter_regex": """
            SELECT * FROM documents
            WHERE regexp_matches(text, '^(key|scan|table)')
              AND text IS NOT NULL AND text <> ''
              AND source IN ('src0', 'src1', 'src2')
        """,
        "ql_filter_size_placeholder": """
            SELECT vec_id, label FROM embeddings
            WHERE len(embedding) = 64 AND vec_id > label
        """,
        "knn_cosine": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.qid
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rnk FROM d)
            SELECT query_id, match_id, rnk::INT AS rank, round(dist, 6) AS score,
                   'cosine' AS metric_name
            FROM r WHERE rnk <= 10
        """,
        "knn_sqeuclidean_filtered": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     list_distance(e.embedding::DOUBLE[], q.qe::DOUBLE[]) ^ 2 AS dist
              FROM embeddings e CROSS JOIN q
              WHERE e.label IN (0, 1)
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rnk FROM d)
            SELECT query_id, match_id, rnk::INT AS rank, round(dist, 6) AS score,
                   'sqeuclidean' AS metric_name
            FROM r WHERE rnk <= 5
        """,
        "knn_euclidean_normalized": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     list_distance(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN q
            ),
            s AS (
              SELECT *,
                     min(dist) OVER (PARTITION BY query_id) AS gmin,
                     max(dist) OVER (PARTITION BY query_id) AS gmax,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rnk
              FROM d
            )
            SELECT query_id, match_id, rnk::INT AS rank,
                   round(greatest(0.0, least(1.0, (dist - gmin) / (gmax - gmin + 1e-7))), 6) AS score,
                   'euclidean' AS metric_name
            FROM s WHERE rnk <= 10
        """,
        "knn_inner_product": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     -list_inner_product(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN q
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rnk FROM d)
            SELECT query_id, match_id, rnk::INT AS rank, round(dist, 6) AS score,
                   'inner_product' AS metric_name
            FROM r WHERE rnk <= 10
        """,
        "group_counts": """
            SELECT source AS group_key, count(*) AS n, min(doc_id) AS first_offset
            FROM documents GROUP BY source
        """,
        "reduce_merge": """
            WITH l AS (
              SELECT doc_id AS id,
                     CASE WHEN source <> 'src0' THEN text END AS text,
                     n_chars
              FROM documents WHERE doc_id % 2 = 0
            ),
            r AS (
              SELECT doc_id AS id, text, CAST(-1 AS BIGINT) AS n_chars
              FROM documents WHERE doc_id % 3 = 0
            )
            SELECT coalesce(l.id, r.id) AS id,
                   coalesce(l.text, r.text) AS text,
                   coalesce(l.n_chars, r.n_chars) AS n_chars
            FROM l FULL OUTER JOIN r ON l.id = r.id
        """,
        "hash_sample": """
            SELECT * FROM documents
            WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '80000000'
        """,
        "cube_rollup": """
            SELECT event_type, user_id % 4 AS user_bucket,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, user_bucket)
        """,
        "asof_join": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            views AS (
              SELECT user_id, ts, event_id AS view_event FROM events
              WHERE event_type = 'view'
            )
            SELECT c.event_id, c.user_id, v.view_event
            FROM clicks c
            ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "batch_ids": """
            SELECT doc_id // 64 AS batch_id, count(*) AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents GROUP BY 1
        """,
        "set_ops": """
            WITH d AS (SELECT doc_id AS id, source FROM documents),
            unioned AS (
              SELECT * FROM d WHERE id < 250
              UNION ALL
              SELECT * FROM d WHERE id >= 200 AND id < 450
            ),
            pruned AS (SELECT * FROM unioned WHERE id % 10 <> 0 OR id >= 500),
            keep AS (SELECT id FROM d WHERE source IN ('src0', 'src1'))
            SELECT p.* FROM pruned p WHERE p.id IN (SELECT id FROM keep)
        """,
        "traverse_paths": """
            WITH roots AS (SELECT doc_id::VARCHAR AS id, text FROM documents),
            chunks AS (
              SELECT id || '.0' AS id, id AS parent_id, 1 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM roots
              UNION ALL
              SELECT id || '.1', id, 1, 1, substr(text, length(text) // 2 + 1) FROM roots
            ),
            grand AS (
              SELECT id || '.0' AS id, id AS parent_id, 2 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM chunks
              UNION ALL
              SELECT id || '.1', id, 2, 1, substr(text, length(text) // 2 + 1) FROM chunks
            )
            SELECT id, parent_id, granularity, text FROM chunks WHERE off = 0
            UNION ALL
            SELECT id, parent_id, granularity, text FROM grand WHERE off = 1
        """,
        "knn_graph": """
            WITH d AS (
              SELECT a.vec_id AS query_id, b.vec_id AS match_id,
                     1 - list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]) AS dist
              FROM embeddings a CROSS JOIN embeddings b
              WHERE a.vec_id <> b.vec_id
            ),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY dist, match_id) AS rnk FROM d)
            SELECT query_id, match_id, rnk::INT AS rank, round(dist, 6) AS score,
                   'cosine' AS metric_name
            FROM r WHERE rnk <= 10
        """,
        "reduce_nested": """
            WITH roots AS (SELECT doc_id::VARCHAR AS id, doc_id AS num, text FROM documents),
            chunks AS (
              SELECT id || '.0' AS id, num, id AS parent_id, 1 AS granularity,
                     substr(text, 1, length(text) // 2) AS text FROM roots
              UNION ALL
              SELECT id || '.1', num, id, 1, substr(text, length(text) // 2 + 1) FROM roots
            ),
            grand AS (
              SELECT id || '.0' AS id, num, id AS parent_id, 2 AS granularity,
                     substr(text, 1, length(text) // 2) AS text FROM chunks
              UNION ALL
              SELECT id || '.1', num, id, 2, substr(text, length(text) // 2 + 1) FROM chunks
            ),
            nodes AS (
              SELECT id, num, '' AS parent_id, 0 AS granularity, text FROM roots
              UNION ALL SELECT id, num, parent_id, granularity, text FROM chunks
              UNION ALL SELECT id, num, parent_id, granularity, text FROM grand
            ),
            a AS (
              SELECT id, parent_id, granularity, text,
                     CASE WHEN granularity = 0 THEN length(text)::DOUBLE END AS weight
              FROM nodes WHERE num < 350
            ),
            b AS (
              SELECT id, parent_id, granularity, upper(text) AS text,
                     -1.0 AS weight
              FROM nodes WHERE num >= 200
            )
            SELECT COALESCE(a.id, b.id) AS id,
                   COALESCE(a.parent_id, b.parent_id) AS parent_id,
                   COALESCE(a.granularity, b.granularity) AS granularity,
                   COALESCE(a.text, b.text) AS text,
                   COALESCE(a.weight, b.weight) AS weight
            FROM a FULL OUTER JOIN b ON a.id = b.id
        """,
        "traverse_attrs": """
            WITH roots AS (SELECT doc_id::VARCHAR AS id, text FROM documents),
            chunks AS (
              SELECT id || '.0' AS id, id AS parent_id, 1 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM roots
              UNION ALL
              SELECT id || '.1', id, 1, 1, substr(text, length(text) // 2 + 1) FROM roots
            ),
            grand AS (
              SELECT id || '.0' AS id, id AS parent_id, 2 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM chunks
              UNION ALL
              SELECT id || '.1', id, 2, 1, substr(text, length(text) // 2 + 1) FROM chunks
            )
            -- banner: the position-0 chunk itself (DOCUMENT attribute)
            SELECT id, parent_id, granularity, text FROM chunks WHERE off = 0
            UNION ALL
            -- paragraphs: children of the position-1 chunk (ITERABLE attribute)
            SELECT g.id, g.parent_id, g.granularity, g.text
            FROM grand g JOIN chunks c ON g.parent_id = c.id AND c.off = 1
        """,
        "traverse_matches": """
            WITH q AS (
              SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20
            ),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id < 200 AND e.vec_id <> q.qid
            ),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY dist, match_id) AS rnk FROM d)
            SELECT match_id::VARCHAR AS id, query_id::VARCHAR AS parent_id,
                   0 AS granularity
            FROM r WHERE rnk <= 3
        """,
        "feature_hash": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
              FROM documents
            )
            SELECT doc_id,
                   (CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 16)::INT AS bucket,
                   count(*) AS cnt
            FROM toks WHERE t <> ''
            GROUP BY doc_id, bucket
        """,
        "datauri": """
            SELECT doc_id,
                   'data:text/plain;base64,' || to_base64(text::BLOB) AS datauri
            FROM documents WHERE doc_id < 100
        """,
        "eval_metrics": """
            WITH q AS (
              SELECT vec_id AS qid, embedding AS qe, label FROM embeddings WHERE vec_id < 10
            ),
            d AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id,
                     1 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
            ),
            m AS (
              SELECT query_id, match_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rnk
              FROM d QUALIFY rnk <= 10
            ),
            gt AS (
              SELECT q.qid AS query_id, e.vec_id AS match_id
              FROM embeddings e JOIN q ON e.label = q.label
              WHERE e.vec_id <> q.qid AND e.vec_id % 7 = 0
            ),
            rel AS (
              SELECT m.query_id, m.rnk,
                     CASE WHEN gt.match_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
                     sum(CASE WHEN gt.match_id IS NOT NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY m.query_id ORDER BY m.rnk) AS cum
              FROM m LEFT JOIN gt
                ON m.query_id = gt.query_id AND m.match_id = gt.match_id
            ),
            agg AS (
              SELECT query_id,
                     avg(CASE WHEN rnk <= 5 THEN rel END) AS p5,
                     sum(rel) / 10.0 AS r10,
                     coalesce(1.0 / min(CASE WHEN rel = 1 THEN rnk END), 0.0) AS rr,
                     coalesce(avg(CASE WHEN rel = 1 THEN cum * 1.0 / rnk END), 0.0) AS ap,
                     sum(rel / log2(rnk + 1.0)) AS dcg,
                     sum(rel) AS nrel,
                     CASE WHEN sum(CASE WHEN rnk <= 3 THEN rel ELSE 0 END) > 0
                          THEN 1.0 ELSE 0.0 END AS hit3
              FROM rel GROUP BY query_id
            )
            SELECT query_id,
                   round(p5, 6) AS precision_at_5,
                   round(r10, 6) AS recall_at_10,
                   round(rr, 6) AS reciprocal_rank,
                   round(ap, 6) AS average_precision,
                   round(CASE WHEN nrel = 0 THEN 0.0 ELSE dcg / (
                     SELECT sum(1.0 / log2(i + 1.0))
                     FROM generate_series(1, 10) AS s(i) WHERE i <= agg.nrel
                   ) END, 6) AS ndcg_at_10,
                   round(hit3, 6) AS hit_at_3
            FROM agg
        """,
        "quality_gopher": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS words,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                l -> trim(l)),
                                 l -> l <> '') AS lines,
                     len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS symbols
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                len(words) AS n_words,
                greatest(len(words), 1) AS safe_nw,
                COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS char_sum,
                len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
                len(list_filter(words, x -> list_contains(
                  ['the','be','to','of','and','that','have','with','a','in'],
                  lower(x)))) AS stop_hits,
                symbols,
                len(lines) AS n_lines,
                greatest(len(lines), 1) AS safe_nl,
                len(list_filter(lines, l -> regexp_matches(l, '^[-*•●■]'))) AS bullet_lines,
                len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS ellipsis_lines,
                len(list_distinct(lines)) AS uniq_lines,
                CASE WHEN len(words) >= 2
                     THEN list_transform(range(1, len(words)),
                                         i -> words[i] || ' ' || words[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END AS bigrams
              FROM w
            ),
            sig AS (
              SELECT doc_id,
                CAST(n_words AS BIGINT) AS n_words,
                round(char_sum / safe_nw, 6) AS mean_word_len,
                round(alpha_words / safe_nw, 6) AS alpha_word_frac,
                CAST(stop_hits AS BIGINT) AS stopword_hits,
                round(symbols / safe_nw, 6) AS symbol_word_ratio,
                round(bullet_lines / safe_nl, 6) AS bullet_line_frac,
                round(ellipsis_lines / safe_nl, 6) AS ellipsis_line_frac,
                round((n_lines - uniq_lines) / safe_nl, 6) AS dup_line_frac,
                CASE WHEN len(bigrams) > 0 THEN
                  round(list_max(list_transform(bigrams,
                          b -> len(list_filter(bigrams, x -> x = b))))
                        / CAST(len(bigrams) AS DOUBLE), 6)
                ELSE 0.0 END AS top_bigram_frac
              FROM m
            ),
            rules AS (
              SELECT *,
                (n_words BETWEEN 50 AND 100000
                 AND mean_word_len BETWEEN 3.0 AND 10.0
                 AND alpha_word_frac >= 0.8
                 AND stopword_hits >= 2
                 AND symbol_word_ratio <= 0.1
                 AND bullet_line_frac <= 0.9
                 AND ellipsis_line_frac <= 0.3
                 AND dup_line_frac <= 0.3
                 AND top_bigram_frac <= 0.2) AS keep
              FROM sig
            ),
            -- r6: char-mass repetition signals (Gopher §A.1.1). Words are
            -- LOWERCASED here (unlike the case-sensitive rule set above);
            -- an n-gram's char mass = length of the space-joined gram
            -- minus its n-1 separators; denominator = total word chars.
            lw AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 x -> x <> '') AS words,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                l -> trim(l)),
                                 l -> l <> '') AS lines
              FROM documents
            ),
            ltot AS (
              SELECT doc_id, words, lines,
                     COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
                       AS total_chars,
                     COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
                       AS total_line_chars
              FROM lw
            ),
            grams AS (
              SELECT t.doc_id, n.n, gram
              FROM ltot t
              CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS n(n)
              CROSS JOIN UNNEST(
                CASE WHEN len(t.words) >= n.n
                     THEN list_transform(range(1, len(t.words) - n.n + 2),
                                         i -> array_to_string(t.words[i:i+n.n-1], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS u(gram)
            ),
            gc AS (
              SELECT doc_id, n, gram, count(*) AS c,
                     length(gram) - (n - 1) AS mass
              FROM grams GROUP BY doc_id, n, gram
            ),
            gagg AS (
              SELECT doc_id, n,
                max(c) AS mc,
                max(mass) FILTER (c = (SELECT max(c) FROM gc g2
                                       WHERE g2.doc_id = gc.doc_id
                                         AND g2.n = gc.n)) AS top_mass,
                COALESCE(sum(c * mass) FILTER (c >= 2), 0) AS dup_mass
              FROM gc GROUP BY doc_id, n
            ),
            duplines AS (
              SELECT t.doc_id,
                     COALESCE(sum((c - 1) * length(l)), 0) AS dup_line_chars
              FROM ltot t, LATERAL (
                SELECT l, count(*) c FROM UNNEST(t.lines) AS u(l) GROUP BY l
              ) lc
              WHERE c >= 2
              GROUP BY t.doc_id
            ),
            rep AS (
              SELECT t.doc_id,
                round(COALESCE(max(CASE WHEN a.n=2 THEN a.mc*a.top_mass END)
                        / nullif(t.total_chars, 0), 0), 6) AS top_2gram_char_frac,
                round(COALESCE(max(CASE WHEN a.n=3 THEN a.mc*a.top_mass END)
                        / nullif(t.total_chars, 0), 0), 6) AS top_3gram_char_frac,
                round(COALESCE(max(CASE WHEN a.n=4 THEN a.mc*a.top_mass END)
                        / nullif(t.total_chars, 0), 0), 6) AS top_4gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=5 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_5gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=6 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_6gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=7 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_7gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=8 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_8gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=9 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_9gram_char_frac,
                round(COALESCE(least(1.0, max(CASE WHEN a.n=10 THEN a.dup_mass END)
                        / nullif(t.total_chars, 0)), 0), 6) AS dup_10gram_char_frac,
                round(COALESCE(any_value(dl.dup_line_chars)
                        / nullif(t.total_line_chars, 0), 0), 6) AS dup_line_char_frac
              FROM ltot t
              LEFT JOIN gagg a ON a.doc_id = t.doc_id
              LEFT JOIN duplines dl ON dl.doc_id = t.doc_id
              GROUP BY t.doc_id, t.total_chars, t.total_line_chars
            ),
            repk AS (
              SELECT *,
                (top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
                 AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
                 AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
                 AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
                 AND dup_10gram_char_frac <= 0.10
                 AND dup_line_char_frac <= 0.20) AS rep_keep
              FROM rep
            )
            SELECT r.*, k.top_2gram_char_frac, k.top_3gram_char_frac,
                   k.top_4gram_char_frac, k.dup_5gram_char_frac,
                   k.dup_6gram_char_frac, k.dup_7gram_char_frac,
                   k.dup_8gram_char_frac, k.dup_9gram_char_frac,
                   k.dup_10gram_char_frac, k.dup_line_char_frac, k.rep_keep,
                   (r.keep AND k.rep_keep) AS keep_all
            FROM rules r JOIN repk k USING (doc_id)
        """,
        "boilerplate_removal": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ),
            u AS (
              SELECT doc_id, list_transform(
                range(1, greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1) + 1),
                i -> array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ')) AS units
              FROM t
            ),
            freq AS (
              SELECT unit FROM (
                SELECT unit, count(*) AS df
                FROM (SELECT doc_id, unnest(list_distinct(units)) AS unit FROM u)
                GROUP BY unit
              ) WHERE df >= 2
            ),
            ex AS (
              SELECT doc_id, unnest(units) AS unit,
                     generate_subscripts(units, 1) AS pos
              FROM u
            ),
            tagged AS (
              SELECT e.doc_id, e.pos, e.unit, f.unit IS NOT NULL AS bad
              FROM ex e LEFT JOIN freq f ON e.unit = f.unit
            )
            SELECT doc_id,
                   coalesce(string_agg(unit, ' ' ORDER BY pos)
                            FILTER (WHERE NOT bad), '') AS clean_text,
                   count(*) AS units_total,
                   CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                     AS units_removed
            FROM tagged GROUP BY doc_id
        """,
        "sessionize": """
            WITH e AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 900 * 1000000
                          THEN 1 ELSE 0 END AS flag
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts, value,
                     CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts)
                          AS BIGINT) AS session_idx
              FROM e
            )
            SELECT user_id, session_idx,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, session_idx
        """,
        "pii_scrub": """
            WITH inj AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com now'
                     ELSE '' END ||
                CASE WHEN doc_id % 5 = 0
                     THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-4567'
                     ELSE '' END ||
                CASE WHEN doc_id % 11 = 0
                     THEN ' from 192.168.' || (doc_id % 256) || '.' || (doc_id % 100)
                     ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
              len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS email_found,
              len(regexp_extract_all(text,
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS phone_found,
              len(regexp_extract_all(text,
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS ipv4_found,
              (len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
               OR len(regexp_extract_all(text,
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) > 0
               OR len(regexp_extract_all(text,
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS has_pii,
              regexp_replace(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g')
                AS redacted_text
            FROM inj
        """,
        "decontaminate": """
            WITH sh AS (
              SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 8
                THEN list_transform(range(1, len(toks) - 6),
                                    i -> array_to_string(toks[i:i+7], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                    FROM documents)
            ),
            ev AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 10 = 7),
            cg AS (SELECT doc_id, unnest(grams) AS g FROM sh)
            SELECT doc_id, count(*) AS eval_ngram_hits,
                   count(*) >= 3 AS contaminated
            FROM cg JOIN ev USING (g)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "fingerprint_winnow": """
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
              FROM documents
            ),
            h AS (
              SELECT doc_id, CASE WHEN length(s) >= 5 THEN
                  list_transform(range(1, length(s) - 3), i ->
                    CAST(concat('0x', substr(md5(substr(s, i, 5)), 1, 8)) AS BIGINT))
                ELSE CAST([] AS BIGINT[]) END AS hs
              FROM t
            )
            SELECT doc_id,
              array_to_string(list_sort(list_distinct(
                CASE WHEN len(hs) >= 4
                     THEN list_transform(range(1, len(hs) - 2), j -> list_min(hs[j:j+3]))
                     WHEN len(hs) > 0 THEN [list_min(hs)]
                     ELSE CAST([] AS BIGINT[]) END)), ',') AS fingerprint_csv
            FROM h
        """,
        "doc_summary": """
            WITH s AS (
              SELECT count(*) AS rows_,
                count(doc_id) AS nn_doc_id, count(DISTINCT doc_id) AS nu_doc_id,
                max(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS he_doc_id,
                count(text) AS nn_text, count(DISTINCT text) AS nu_text,
                max(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS he_text,
                count(lang) AS nn_lang, count(DISTINCT lang) AS nu_lang,
                max(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) AS he_lang,
                count(source) AS nn_source, count(DISTINCT source) AS nu_source,
                max(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END) AS he_source,
                count(n_chars) AS nn_n_chars, count(DISTINCT n_chars) AS nu_n_chars,
                max(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS he_n_chars
              FROM documents
            )
            SELECT 'doc_id' AS attribute, 'bigint' AS dtype, rows_ AS row_count,
                   nn_doc_id AS non_null, rows_ - nn_doc_id AS null_count,
                   nu_doc_id AS n_unique, he_doc_id = 1 AS has_empty FROM s
            UNION ALL
            SELECT 'lang', 'string', rows_, nn_lang, rows_ - nn_lang,
                   nu_lang, he_lang = 1 FROM s
            UNION ALL
            SELECT 'n_chars', 'bigint', rows_, nn_n_chars, rows_ - nn_n_chars,
                   nu_n_chars, he_n_chars = 1 FROM s
            UNION ALL
            SELECT 'source', 'string', rows_, nn_source, rows_ - nn_source,
                   nu_source, he_source = 1 FROM s
            UNION ALL
            SELECT 'text', 'string', rows_, nn_text, rows_ - nn_text,
                   nu_text, he_text = 1 FROM s
        """,
        "vocabulary": """
            WITH w AS (
              SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents
            )
            SELECT token, count(*) AS count,
                   (row_number() OVER (ORDER BY count(*) DESC, token ASC) + 1)::INT AS token_id
            FROM w WHERE token <> ''
            GROUP BY token HAVING count(*) >= 5
        """,
        "text_to_tensor": """
            WITH w AS (
              SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents
            ),
            vocab AS (
              SELECT token,
                     (row_number() OVER (ORDER BY count(*) DESC, token ASC) + 1)::BIGINT AS token_id
              FROM w WHERE token <> '' GROUP BY token HAVING count(*) >= 5
            ),
            vm AS (SELECT map_from_entries(list(struct_pack(k := token, v := token_id))) AS m
                   FROM vocab),
            t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                  FROM documents),
            seq AS (
              SELECT doc_id, list_transform(toks, tk -> coalesce(m[tk][1], 1::BIGINT)) AS tensor
              FROM t CROSS JOIN vm
            ),
            padded AS (
              SELECT doc_id,
                     list_concat(tensor[1:8],
                                 list_transform(range(1, greatest(0, 8 - len(tensor)) + 1),
                                                x -> 0::BIGINT)) AS tensor
              FROM seq
            )
            SELECT doc_id, array_to_string(tensor, ',') AS tensor_csv FROM padded
        """,
        "text_search_bm25": """
            WITH b2 AS (
              SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
                     len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl
              FROM documents
            ),
            stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM b2),
            toks AS (SELECT doc_id, dl, unnest(toks) AS t FROM b2),
            qt(query_id, t) AS (VALUES
              (0, 'key'), (0, 'value'), (0, 'scan'), (0, 'table'),
              (1, 'merge'), (1, 'join'), (1, 'window'), (1, 'group'),
              (2, 'vector'), (2, 'stream'), (2, 'batch'), (2, 'data')),
            tf AS (
              SELECT doc_id, dl, t, count(*) AS tf FROM toks
              WHERE t IN (SELECT t FROM qt)
              GROUP BY doc_id, dl, t
            ),
            dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            scored AS (
              SELECT tf.doc_id,
                     sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                         * (tf.tf * (1.2 + 1))
                         / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * tf.dl) / s.avgdl))) AS score
              FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN stats s
              WHERE tf.t IN ('key', 'value', 'scan', 'table')
              GROUP BY tf.doc_id
            ),
            single AS (
              -- rank on the ROUNDED score (id tie-break): raw-sum ulp
              -- ties must not pick engine- or run-specific winners
              SELECT doc_id, round(score, 6) AS score,
                     (row_number() OVER (ORDER BY round(score, 6) DESC,
                                         doc_id ASC))::INT AS rank
              FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20
            ),
            mscored AS (
              SELECT q.query_id, tf.doc_id,
                     sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                         * (tf.tf * (1.2 + 1))
                         / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * tf.dl) / s.avgdl))) AS score
              FROM tf JOIN qt q ON tf.t = q.t
              JOIN dfreq d ON tf.t = d.t CROSS JOIN stats s
              GROUP BY q.query_id, tf.doc_id
            ),
            mrank AS (
              SELECT query_id, doc_id, score,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY round(score, 6) DESC, doc_id ASC))::INT AS rank
              FROM mscored
            ),
            textk AS (SELECT query_id, doc_id, round(score, 6) AS score, rank
                      FROM mrank WHERE rank <= 40),
            qv AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 3),
            vd AS (
              SELECT qv.query_id, e.vec_id AS doc_id,
                     1 - list_cosine_similarity(e.embedding::DOUBLE[], qv.qe::DOUBLE[]) AS dist
              FROM embeddings e CROSS JOIN qv
            ),
            vrank AS (
              SELECT query_id, doc_id, dist,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY dist ASC, doc_id ASC))::INT AS rank
              FROM vd
            ),
            veck AS (SELECT query_id, doc_id, round(dist, 6) AS score, rank
                     FROM vrank WHERE rank <= 40),
            rrfs AS (
              SELECT query_id, doc_id, sum(c) AS score FROM (
                SELECT query_id, doc_id, 1.0 / (60.0 + rank) AS c FROM textk
                UNION ALL
                SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM veck
              ) GROUP BY query_id, doc_id
            ),
            rrfr AS (
              SELECT query_id, doc_id, round(score, 9) AS score,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id ASC))::INT AS rank
              FROM rrfs
            ),
            tmm AS (SELECT query_id, min(score) AS mn, max(score) AS mx
                    FROM textk GROUP BY query_id),
            vmm AS (SELECT query_id, min(score) AS mn, max(score) AS mx
                    FROM veck GROUP BY query_id),
            wss AS (
              SELECT query_id, doc_id, sum(c) AS score FROM (
                SELECT t.query_id, t.doc_id,
                       0.25 * ((t.score - m.mn) / (m.mx - m.mn + 1e-7)) AS c
                FROM textk t JOIN tmm m ON t.query_id = m.query_id
                UNION ALL
                SELECT v.query_id, v.doc_id,
                       0.75 * (1.0 - ((v.score - m.mn) / (m.mx - m.mn + 1e-7)))
                FROM veck v JOIN vmm m ON v.query_id = m.query_id
              ) GROUP BY query_id, doc_id
            ),
            wsr AS (
              SELECT query_id, doc_id, round(score, 6) AS score,
                     (row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id ASC))::INT AS rank
              FROM wss
            ),
            mc AS (
              SELECT query_id, doc_id, round(1 - score, 6) AS rel FROM veck
            ),
            msim AS (
              SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
                     round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                                  eb.embedding::DOUBLE[]), 6) AS s
              FROM mc a JOIN mc b
                ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
              JOIN embeddings ea ON ea.vec_id = a.doc_id
              JOIN embeddings eb ON eb.vec_id = b.doc_id
            ),
            p1 AS (
              SELECT query_id, doc_id, mmr FROM (
                SELECT query_id, doc_id, 0.5 * rel AS mmr,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY 0.5 * rel DESC, doc_id ASC) AS rn
                FROM mc
              ) WHERE rn = 1
            ),
            sel1 AS (SELECT query_id, doc_id FROM p1),
            p2 AS (
              SELECT query_id, doc_id, mmr FROM (
                SELECT query_id, doc_id, mmr,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY mmr DESC, doc_id ASC) AS rn
                FROM (
                  SELECT m.query_id, m.doc_id,
                         0.5 * m.rel - 0.5 * coalesce((
                           SELECT max(x.s) FROM msim x
                           JOIN sel1 s ON x.query_id = s.query_id
                                          AND x.db = s.doc_id
                           WHERE x.query_id = m.query_id
                             AND x.da = m.doc_id), 0.0) AS mmr
                  FROM mc m
                  WHERE NOT EXISTS (SELECT 1 FROM sel1 s
                                    WHERE s.query_id = m.query_id
                                      AND s.doc_id = m.doc_id)
                )
              ) WHERE rn = 1
            ),
            sel2 AS (SELECT query_id, doc_id FROM sel1
                       UNION ALL SELECT query_id, doc_id FROM p2),
            p3 AS (
              SELECT query_id, doc_id, mmr FROM (
                SELECT query_id, doc_id, mmr,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY mmr DESC, doc_id ASC) AS rn
                FROM (
                  SELECT m.query_id, m.doc_id,
                         0.5 * m.rel - 0.5 * coalesce((
                           SELECT max(x.s) FROM msim x
                           JOIN sel2 s ON x.query_id = s.query_id
                                          AND x.db = s.doc_id
                           WHERE x.query_id = m.query_id
                             AND x.da = m.doc_id), 0.0) AS mmr
                  FROM mc m
                  WHERE NOT EXISTS (SELECT 1 FROM sel2 s
                                    WHERE s.query_id = m.query_id
                                      AND s.doc_id = m.doc_id)
                )
              ) WHERE rn = 1
            ),
            sel3 AS (SELECT query_id, doc_id FROM sel2
                       UNION ALL SELECT query_id, doc_id FROM p3),
            p4 AS (
              SELECT query_id, doc_id, mmr FROM (
                SELECT query_id, doc_id, mmr,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY mmr DESC, doc_id ASC) AS rn
                FROM (
                  SELECT m.query_id, m.doc_id,
                         0.5 * m.rel - 0.5 * coalesce((
                           SELECT max(x.s) FROM msim x
                           JOIN sel3 s ON x.query_id = s.query_id
                                          AND x.db = s.doc_id
                           WHERE x.query_id = m.query_id
                             AND x.da = m.doc_id), 0.0) AS mmr
                  FROM mc m
                  WHERE NOT EXISTS (SELECT 1 FROM sel3 s
                                    WHERE s.query_id = m.query_id
                                      AND s.doc_id = m.doc_id)
                )
              ) WHERE rn = 1
            ),
            sel4 AS (SELECT query_id, doc_id FROM sel3
                       UNION ALL SELECT query_id, doc_id FROM p4),
            p5 AS (
              SELECT query_id, doc_id, mmr FROM (
                SELECT query_id, doc_id, mmr,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY mmr DESC, doc_id ASC) AS rn
                FROM (
                  SELECT m.query_id, m.doc_id,
                         0.5 * m.rel - 0.5 * coalesce((
                           SELECT max(x.s) FROM msim x
                           JOIN sel4 s ON x.query_id = s.query_id
                                          AND x.db = s.doc_id
                           WHERE x.query_id = m.query_id
                             AND x.da = m.doc_id), 0.0) AS mmr
                  FROM mc m
                  WHERE NOT EXISTS (SELECT 1 FROM sel4 s
                                    WHERE s.query_id = m.query_id
                                      AND s.doc_id = m.doc_id)
                )
              ) WHERE rn = 1
            ),
            sel5 AS (SELECT query_id, doc_id FROM sel4
                       UNION ALL SELECT query_id, doc_id FROM p5)
            SELECT 'bm25' AS part, -1::BIGINT AS query_id, doc_id, score, rank
            FROM single
            UNION ALL
            SELECT 'multi', query_id::BIGINT, doc_id, score, rank
            FROM textk WHERE rank <= 15
            UNION ALL
            SELECT 'rrf', query_id::BIGINT, doc_id, score, rank
            FROM rrfr WHERE rank <= 10
            UNION ALL
            SELECT 'wsum', query_id::BIGINT, doc_id, score, rank
            FROM wsr WHERE rank <= 10
            UNION ALL
            SELECT 'mmr', query_id::BIGINT, doc_id, round(mmr, 6) AS score,
                   1::INT AS rank FROM p1
            UNION ALL
            SELECT 'mmr', query_id::BIGINT, doc_id, round(mmr, 6) AS score,
                   2::INT AS rank FROM p2
            UNION ALL
            SELECT 'mmr', query_id::BIGINT, doc_id, round(mmr, 6) AS score,
                   3::INT AS rank FROM p3
            UNION ALL
            SELECT 'mmr', query_id::BIGINT, doc_id, round(mmr, 6) AS score,
                   4::INT AS rank FROM p4
            UNION ALL
            SELECT 'mmr', query_id::BIGINT, doc_id, round(mmr, 6) AS score,
                   5::INT AS rank FROM p5
        """,
        "nested_set": """
            WITH roots AS (SELECT doc_id::VARCHAR AS id, text FROM documents),
            chunks AS (
              SELECT id || '.0' AS id, id AS parent_id, 1 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM roots
              UNION ALL
              SELECT id || '.1', id, 1, 1, substr(text, length(text) // 2 + 1) FROM roots
            ),
            grand AS (
              SELECT id || '.0' AS id, id AS parent_id, 2 AS granularity, 0 AS off,
                     substr(text, 1, length(text) // 2) AS text FROM chunks
              UNION ALL
              SELECT id || '.1', id, 2, 1, substr(text, length(text) // 2 + 1) FROM chunks
            )
            SELECT id, '' AS parent_id, 0 AS granularity, text FROM roots
            UNION ALL
            SELECT id, parent_id, granularity,
                   CASE WHEN off = 0 THEN 'X' ELSE text END AS text FROM chunks
            UNION ALL
            SELECT id, parent_id, granularity, text FROM grand
        """,
        "dedup_exact": """
            WITH t AS (
              SELECT doc_id,
                     array_to_string((regexp_split_to_array(trim(lower(text)), '\\s+'))[1:2], ' ') AS p
              FROM documents
            )
            SELECT md5(p) AS fingerprint, count(*) AS dup_count, min(doc_id) AS canonical_id
            FROM t GROUP BY md5(p) HAVING count(*) > 1
        """,
        "dedup_minhash_lsh": """
            WITH base AS (
              SELECT doc_id AS id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     array_to_string((regexp_split_to_array(trim(text), '\\s+'))[5:], ' ')
              FROM documents WHERE doc_id % 10 = 0
            ),
            sh AS (
              SELECT id, list_distinct(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
              FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM base)
            ),
            hs AS (
              SELECT id, shingles,
                     list_transform(shingles,
                       s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hv
              FROM sh
            ),
            bands AS (
              SELECT id, b.band,
                     concat(
                       list_min(list_transform(hv,
                         h -> (h * (2 * (2 * b.band) + 1) + (2 * b.band)) % 2147483647))::VARCHAR,
                       '_',
                       list_min(list_transform(hv,
                         h -> (h * (2 * (2 * b.band + 1) + 1) + (2 * b.band + 1)) % 2147483647))::VARCHAR
                     ) AS mh
              FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS band) b
            ),
            cand AS (
              SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM bands l JOIN bands r ON l.band = r.band AND l.mh = r.mh AND l.id < r.id
            ),
            j AS (
              SELECT c.id_a, c.id_b,
                     round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                           / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
              FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
            )
            SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
        """,
        "dedup_ngram_jaccard": """
            WITH base AS (
              SELECT doc_id AS id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     array_to_string((regexp_split_to_array(trim(text), '\\s+'))[5:], ' ')
              FROM documents WHERE doc_id % 10 = 0
            ),
            sh AS (
              SELECT id, list_distinct(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
              FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM base)
            ),
            e AS (SELECT id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     count(*) AS i
              FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, round(i * 1.0 / (sz_a + sz_b - i), 6) AS jaccard
            FROM inter WHERE round(i * 1.0 / (sz_a + sz_b - i), 6) >= 0.4
        """,
        "dedup_simhash": """
            SELECT doc_id, CAST(list_aggregate(
              list_transform(range(0, 32), i ->
                CASE WHEN list_sum(list_transform(toks, t ->
                  CASE WHEN (CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                             // CAST(power(2, i) AS BIGINT)) % 2 = 1
                       THEN 1 ELSE -1 END)) > 0
                     THEN CAST(power(2, i) AS BIGINT) ELSE 0 END),
              'sum') AS BIGINT) AS simhash
            FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                  FROM documents)
        """,
        "sparse_knn_cosine": """
            WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            e AS (
              SELECT vec_id,
                     unnest(list_filter(
                       list_transform(range(1, len(v) + 1),
                                      i -> {'ix': i - 1, 'val': v[i]}),
                       s -> abs(s.val) > 0.2), recursive := true)
              FROM d
            ),
            n AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
            dots AS (
              SELECT q.vec_id AS query_id, c.vec_id AS match_id, sum(q.val * c.val) AS dot
              FROM e q JOIN e c ON q.ix = c.ix
              WHERE q.vec_id < 5
              GROUP BY 1, 2
            ),
            s AS (
              SELECT query_id, match_id,
                     greatest(0, 1 - dot / (nq.nrm * nc.nrm)) AS score
              FROM dots
              JOIN n nq ON nq.vec_id = query_id
              JOIN n nc ON nc.vec_id = match_id
            )
            SELECT query_id, match_id, rnk::INT AS rank, round(score, 6) AS score,
                   'cosine' AS metric_name
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY round(score, 6), match_id) AS rnk FROM s)
            WHERE rnk <= 10
        """,
        "ann_ivf_cosine": """
            WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
            cent0 AS (SELECT id, v FROM base ORDER BY md5(id::VARCHAR) LIMIT 16),
            cent AS (
              SELECT (row_number() OVER (ORDER BY id) - 1)::INT AS cell, v AS centroid
              FROM cent0
            ),
            assigned AS (
              SELECT c.cell, b.id, b.v FROM base b CROSS JOIN cent c
              QUALIFY row_number() OVER (
                PARTITION BY b.id ORDER BY list_distance(b.v, c.centroid), c.cell) = 1
            ),
            q AS (SELECT id AS query_id, v AS qv FROM base WHERE id < 8),
            probes AS (
              SELECT query_id, qv, c.cell FROM q CROSS JOIN cent c
              QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY list_distance(qv, c.centroid), c.cell) <= 4
            ),
            cand AS (
              SELECT p.query_id, a.id AS match_id,
                     1 - list_cosine_similarity(p.qv, a.v) AS score
              FROM probes p JOIN assigned a ON p.cell = a.cell
            ),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY score, match_id) AS rnk FROM cand),
            -- part='pq_adc': full PQ replay — codebook = 8 md5-sampled
            -- corpus rows split into 4×16-d subspaces; encode = per
            -- (row, subspace) argmin sqeuclidean with code-asc tie-break
            -- (numpy argmin picks the first minimum); score = sum over
            -- subspaces of the query-to-chosen-codeword sqeuclidean (the
            -- ADC lookup-table sum, computed directly)
            js AS (SELECT unnest(range(0, 4)) AS j),
            cw0 AS (SELECT id, v FROM base ORDER BY md5(id::VARCHAR) LIMIT 8),
            cwn AS (SELECT (row_number() OVER (ORDER BY id) - 1)::INT AS code, v
                    FROM cw0),
            book AS (
              SELECT j, code, list_slice(v, j * 16 + 1, j * 16 + 16) AS bsub
              FROM cwn, js
            ),
            corp AS (
              SELECT id, j, list_slice(v, j * 16 + 1, j * 16 + 16) AS sub
              FROM base, js
            ),
            encj AS (
              SELECT c.id, c.j, b.bsub
              FROM corp c JOIN book b ON b.j = c.j
              QUALIFY row_number() OVER (
                PARTITION BY c.id, c.j
                ORDER BY list_sum([ (c.sub[i] - b.bsub[i]) ^ 2
                                    FOR i IN range(1, 17) ]), b.code) = 1
            ),
            qsubs AS (
              SELECT id AS query_id, j, list_slice(v, j * 16 + 1, j * 16 + 16) AS qsub
              FROM base, js WHERE id < 8
            ),
            adc AS (
              SELECT q.query_id, e.id AS match_id,
                     sum(list_sum([ (q.qsub[i] - e.bsub[i]) ^ 2
                                    FOR i IN range(1, 17) ])) AS score
              FROM qsubs q JOIN encj e ON e.j = q.j
              GROUP BY 1, 2
            ),
            -- rank over the ROUNDED score: PQ ties are structural (equal
            -- codes), and float-sum-order noise must not permute them
            pqr AS (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY round(score, 6), match_id) AS rnk
                    FROM adc)
            SELECT 'ivf' AS part, query_id, match_id, rnk::INT AS rank,
                   round(score, 6) AS score, 'cosine' AS metric_name
            FROM r WHERE rnk <= 10
            UNION ALL
            SELECT 'pq_adc' AS part, query_id, match_id, rnk::INT AS rank,
                   round(score, 6) AS score, 'sqeuclidean' AS metric_name
            FROM pqr WHERE rnk <= 10
        """,
        "range_join": """
            WITH pts AS (
              SELECT event_id, user_id, epoch_us(ts) / 1000000.0 AS t_s
              FROM events
            ),
            win AS (
              SELECT user_id, min(t_s) AS win_start, min(t_s) + 3600.0 AS win_end
              FROM pts GROUP BY user_id
            )
            SELECT p.event_id, p.user_id
            FROM pts p JOIN win w
              ON p.user_id = w.user_id
             AND p.t_s >= w.win_start AND p.t_s < w.win_end
            ORDER BY p.event_id
        """,
        "skew_salted_agg": """
            SELECT event_type, count(event_id) AS n,
                   round(max(value), 6) AS max_val,
                   min(event_id) AS min_event
            FROM events GROUP BY event_type
        """,
        "weighted_sample": """
            SELECT doc_id, source, least(1.0, n_chars / 300.0) AS weight
            FROM documents
            WHERE CAST(concat('0x', substr(md5('weight|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  / 4294967296.0
                  < least(1.0, n_chars / 300.0)
        """,
        "embed_pool": """
            WITH per AS (
              SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings
            )
            SELECT label, count(*) AS n_members, dim, round(avg(x), 6) AS value
            FROM per GROUP BY label, dim
        """,
        "stream_interval_join": """
            WITH c AS (
              SELECT user_id, ts, event_id AS click_event
              FROM events WHERE event_type = 'click'
            ),
            v AS (
              SELECT user_id, ts AS rts, event_id AS view_event
              FROM events WHERE event_type = 'view'
            )
            SELECT c.user_id, c.click_event, v.view_event,
                   epoch_us(c.ts) AS click_us, epoch_us(v.rts) AS view_us
            FROM c JOIN v
              ON c.user_id = v.user_id
             AND v.rts >= c.ts - INTERVAL 600 SECOND
             AND v.rts <= c.ts
        """,
        "dedup_incremental": """
            WITH seen AS (
              SELECT doc_id AS id, text FROM documents WHERE doc_id < 250
            ),
            newd AS (
              SELECT doc_id AS id, text FROM documents WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 100000,
                     array_to_string((regexp_split_to_array(trim(text), '\\s+'))[5:], ' ')
              FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0
            ),
            sfp AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM seen),
            nfp AS (SELECT id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM newd),
            ssh AS (
              SELECT id, list_distinct(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
              FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM seen)
            ),
            nsh AS (
              SELECT id, list_distinct(CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
              FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM newd)
            ),
            shv AS (SELECT id, list_transform(shingles,
                      s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hv FROM ssh),
            nhv AS (SELECT id, list_transform(shingles,
                      s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hv FROM nsh),
            sbands AS (
              SELECT DISTINCT b.band,
                     list_min(list_transform(hv,
                       h -> (h * (2 * b.band + 1) + b.band) % 2147483647)) AS mh
              FROM shv CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
            ),
            nbands AS (
              SELECT id, b.band,
                     list_min(list_transform(hv,
                       h -> (h * (2 * b.band + 1) + b.band) % 2147483647)) AS mh
              FROM nhv CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
            ),
            hits AS (
              SELECT n.id, count(*) AS n_band_hits
              FROM nbands n JOIN sbands s ON n.band = s.band AND n.mh = s.mh
              GROUP BY n.id
            )
            SELECT nfp.id,
                   (sfp.fp IS NOT NULL) AS is_exact_dup,
                   coalesce(h.n_band_hits, 0) AS n_band_hits,
                   coalesce(h.n_band_hits, 0) >= 1 AS is_near_dup
            FROM nfp
            LEFT JOIN sfp ON nfp.fp = sfp.fp
            LEFT JOIN hits h ON h.id = nfp.id
        """,
        "cap_per_group": """
            SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents
            ) WHERE rn <= 15
        """,
        "tfidf_vectors": """
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            st AS (SELECT token, count(*) AS dfreq, sum(tf) AS total
                   FROM tf GROUP BY token),
            ids AS (SELECT token, dfreq,
                           CAST(row_number() OVER (ORDER BY total DESC, token ASC)
                                + 1 AS INT) AS token_id
                    FROM st),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT tf.doc_id, tf.token, i.token_id,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (i.dfreq + 1.0)) + 1.0), 6)
                     AS weight
            FROM tf JOIN ids i USING (token) CROSS JOIN n
            WHERE tf.doc_id < 100
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, source,
                     len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     x -> x <> '')) AS n_tokens
              FROM documents
            ),
            p AS (
              SELECT doc_id, source, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                       - n_tokens AS start
              FROM t
            )
            SELECT source, CAST(floor(start / 256) AS BIGINT) AS bin_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
                   min(doc_id) AS first_doc
            FROM p GROUP BY source, bin_id ORDER BY source, bin_id
        """,
        "stratified_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE substring(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < CASE source
                      WHEN 'src0' THEN 'cccccccc'
                      WHEN 'src1' THEN '40000000'
                      WHEN 'src2' THEN '80000000'
                      ELSE '19999999' END
        """,
        "dedup_paragraphs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ),
            u AS (
              SELECT doc_id, list_transform(
                range(1, greatest(CAST(ceil(len(toks) / 6.0) AS INT), 1) + 1),
                i -> array_to_string(toks[(i-1)*6+1:(i-1)*6+6], ' ')) AS units
              FROM t
            ),
            ex AS (
              SELECT doc_id, unnest(units) AS unit,
                     generate_subscripts(units, 1) AS pos
              FROM u
            ),
            r AS (
              SELECT doc_id, pos, unit,
                     row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
              FROM ex
            ),
            -- part='spans': exact-substring span dedup replay — lowercased
            -- tokens (the engine tokenizer lowercases), 8-token window
            -- hashes (engine hash_u32_sql md5 path), first occurrence per
            -- hash kept, duplicated windows merged gaps-and-islands, kept
            -- tokens re-joined
            spt AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ),
            sph AS (
              -- 60-bit window hash (15 hex chars): 32 bits birthday-
              -- collides at corpus scale and collisions DELETE text
              SELECT doc_id, s AS start,
                     CAST(concat('0x', substr(md5(
                       array_to_string(toks[s+1:s+8], ' ')), 1, 15)) AS BIGINT)
                       AS whash
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS s
                    FROM spt WHERE len(toks) >= 8)
            ),
            spm AS (
              SELECT doc_id, start, start + 8 AS fin
              FROM (SELECT doc_id, start,
                           row_number() OVER (PARTITION BY whash
                                              ORDER BY doc_id, start) AS rn,
                           count(*) OVER (PARTITION BY whash) AS cnt
                    FROM sph)
              WHERE cnt > 1 AND rn > 1
            ),
            spi AS (
              SELECT doc_id, start, fin,
                     sum(CASE WHEN prev_max IS NULL OR start > prev_max
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS island
              FROM (SELECT doc_id, start, fin,
                           max(fin) OVER (PARTITION BY doc_id ORDER BY start
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
                    FROM spm)
            ),
            spspan AS (
              SELECT doc_id, min(start) AS span_start, max(fin) AS span_end
              FROM spi GROUP BY doc_id, island
            ),
            spflag AS (
              SELECT e.doc_id, e.tok, e.i, e.ntok,
                     EXISTS(SELECT 1 FROM spspan s
                            WHERE s.doc_id = e.doc_id
                              AND e.i >= s.span_start AND e.i < s.span_end)
                       AS covered
              FROM (SELECT doc_id, unnest(toks) AS tok,
                           generate_subscripts(toks, 1) - 1 AS i,
                           len(toks) AS ntok
                    FROM spt) e
            )
            SELECT 'units' AS part, doc_id,
                   coalesce(string_agg(unit, ' ' ORDER BY pos)
                            FILTER (WHERE rn = 1), '') AS clean_text,
                   count(*) AS units_total,
                   CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS units_removed
            FROM r GROUP BY doc_id
            UNION ALL
            SELECT 'spans' AS part, doc_id,
                   coalesce(string_agg(tok, ' ' ORDER BY i)
                            FILTER (WHERE NOT covered), '') AS clean_text,
                   max(ntok)::BIGINT AS units_total,
                   CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
                     AS units_removed
            FROM spflag GROUP BY doc_id
        """,
        "kmeans_clusters": """WITH base AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
            cand AS (SELECT id, v FROM base ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 8),
            c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cell, list_transform(v, x -> round(x, 6)) AS centroid FROM cand),
            a1 AS (SELECT id, v, cell FROM (SELECT b.id, b.v, c.cell, row_number() OVER (PARTITION BY b.id ORDER BY list_distance(b.v, c.centroid), c.cell) AS rn FROM base b CROSS JOIN c0 c) WHERE rn = 1),
            c1 AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM (SELECT cell, dim, round(avg(x), 6) AS m FROM (SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a1) GROUP BY cell, dim) GROUP BY cell),
            a2 AS (SELECT id, v, cell FROM (SELECT b.id, b.v, c.cell, row_number() OVER (PARTITION BY b.id ORDER BY list_distance(b.v, c.centroid), c.cell) AS rn FROM base b CROSS JOIN c1 c) WHERE rn = 1),
            c2 AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM (SELECT cell, dim, round(avg(x), 6) AS m FROM (SELECT cell, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a2) GROUP BY cell, dim) GROUP BY cell),
            afinal AS (SELECT id, cell FROM (SELECT b.id, c.cell, row_number() OVER (PARTITION BY b.id ORDER BY list_distance(b.v, c.centroid), c.cell) AS rn FROM base b CROSS JOIN c2 c) WHERE rn = 1)
            SELECT s.cell, s.n_points, round(sqrt(list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')), 4) AS centroid_norm
            FROM (SELECT cell, count(*) AS n_points FROM afinal GROUP BY cell) s JOIN c2 c USING (cell) ORDER BY cell""",
        "ngram_counts": """
            WITH t AS (
              SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ),
            g AS (
              SELECT unnest(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
              FROM t WHERE len(toks) >= 2
            )
            SELECT gram, count(*) AS n_occurrences
            FROM g GROUP BY gram
            ORDER BY n_occurrences DESC, gram ASC LIMIT 50
        """,
        "stream_session_windows": """
            WITH e AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               >= 900 * 1000000
                          THEN 1 ELSE 0 END AS flag
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts, value,
                     sum(flag) OVER (PARTITION BY user_id ORDER BY ts) AS session_idx
              FROM e
            )
            SELECT user_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) + 900 * 1000000 AS end_us,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, session_idx
        """,
        "dedup_simhash_pairs": f"""
            WITH {_SIMHASH_PAIR_CTES}
            SELECT id_a, id_b, hamming FROM sh_pairs
        """,
        "dedup_components": f"""
            WITH RECURSIVE {_SIMHASH_PAIR_CTES},
            edges AS (
              SELECT id_a AS u, id_b AS v FROM sh_pairs
              UNION
              SELECT id_b, id_a FROM sh_pairs
            ),
            reach(node, lbl) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
            ),
            comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
            SELECT d.doc_id,
                   COALESCE(c.component, d.doc_id) AS component,
                   COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            ORDER BY d.doc_id
        """,
        "semantic_dedup": """
            WITH RECURSIVE b0 AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
              FROM embeddings WHERE vec_id % 20 = 0
            ),
            cents AS (
              SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id < 4
            ),
            asg AS (
              SELECT b0.id, b0.v,
                     (SELECT cell FROM cents
                      ORDER BY list_distance(b0.v, cv) ASC, cell ASC
                      LIMIT 1) AS cell
              FROM b0
            ),
            wd AS (
              SELECT a.id, a.v, a.cell,
                     round(1 - list_cosine_similarity(a.v, c.cv), 6)
                       AS centroid_dist
              FROM asg a JOIN cents c USING (cell)
            ),
            edges AS (
              SELECT a.id AS src, b.id AS dst
              FROM wd a JOIN wd b ON a.cell = b.cell AND a.id <> b.id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
            ),
            reach(id, m) AS (
              SELECT id, id FROM wd
              UNION
              SELECT e.dst, r.m FROM reach r JOIN edges e ON r.id = e.src
            ),
            comp AS (SELECT id, MIN(m) AS dup_group FROM reach GROUP BY id),
            scored AS (
              SELECT w.id, w.cell, c.dup_group, w.centroid_dist,
                     row_number() OVER (PARTITION BY c.dup_group
                                        ORDER BY w.centroid_dist DESC,
                                                 w.id ASC) AS rn
              FROM wd w JOIN comp c USING (id)
            )
            SELECT id, cell, dup_group, centroid_dist, rn = 1 AS keep
            FROM scored
        """,
        "semantic_dedup_p2": """
            WITH RECURSIVE b0 AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
              FROM embeddings WHERE vec_id % 20 = 0
            ),
            cents AS (
              SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id < 4
            ),
            -- top-2 nearest cells per row (euclidean, smallest-cell tie-break)
            asg2 AS (
              SELECT id, v, cell, probe FROM (
                SELECT b0.id, b0.v, c.cell,
                       row_number() OVER (PARTITION BY b0.id
                         ORDER BY list_distance(b0.v, c.cv) ASC, c.cell ASC)
                         AS probe
                FROM b0 CROSS JOIN cents c
              ) WHERE probe <= 2
            ),
            wd AS (
              SELECT a.id, a.v, a.cell,
                     round(1 - list_cosine_similarity(a.v, c.cv), 6)
                       AS centroid_dist
              FROM asg2 a JOIN cents c USING (cell)
              WHERE a.probe = 1
            ),
            -- pair edges within ANY shared probed cell
            edges AS (
              SELECT DISTINCT a.id AS src, b.id AS dst
              FROM asg2 a JOIN asg2 b ON a.cell = b.cell AND a.id <> b.id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
            ),
            reach(id, m) AS (
              SELECT id, id FROM wd
              UNION
              SELECT e.dst, r.m FROM reach r JOIN edges e ON r.id = e.src
            ),
            comp AS (SELECT id, MIN(m) AS dup_group FROM reach GROUP BY id),
            scored AS (
              SELECT w.id, w.cell, c.dup_group, w.centroid_dist,
                     row_number() OVER (PARTITION BY c.dup_group
                                        ORDER BY w.centroid_dist DESC,
                                                 w.id ASC) AS rn
              FROM wd w JOIN comp c USING (id)
            )
            SELECT id, cell, dup_group, centroid_dist, rn = 1 AS keep
            FROM scored
        """,
        "dedup_embedding": """
            WITH base AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
              FROM embeddings WHERE vec_id % 20 = 0
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     round(1 - list_cosine_similarity(a.v, b.v), 6) AS cosine_dist
              FROM base a JOIN base b ON a.id < b.id
            )
            SELECT id_a, id_b, cosine_dist FROM pairs WHERE cosine_dist < 0.01
        """,
        "embed_batch": """
            SELECT doc_id, j AS dim,
                   CAST(concat('0x', substr(md5(coalesce(text, '') || '|' || j), 1, 8))
                        AS BIGINT) / 4294967296.0 * 2 - 1 AS value
            FROM documents CROSS JOIN (SELECT unnest(range(0, 16)) AS j) dims
            WHERE doc_id < 300
        """,
        "slice_crud": """
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 'UPDATED'
                        WHEN source = 'src0' THEN upper(text)
                        ELSE text END AS text,
                   CAST(NULL AS VARCHAR) AS lang,
                   source, n_chars
            FROM documents
            WHERE doc_id >= 100 AND doc_id < 400 AND (doc_id - 100) % 3 = 0
              AND NOT COALESCE(n_chars > 900, FALSE)
        """,
        "feature_hash_csv": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS ts
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN len(ts) = 0 THEN NULL ELSE
                     array_to_string(list_transform(range(0, 16), b ->
                       CAST(len(list_filter(ts, t ->
                         (CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 16) = b))
                         AS DOUBLE)), ',')
                   END AS value
            FROM toks
        """,
        "text_profile": """
            WITH profiles(cand, words) AS (VALUES
              ('de', ['der','die','das','und','ist','nicht','ein','zu']),
              ('en', ['the','a','of','and','is','to','in','that']),
              ('es', ['el','la','de','y','es','que','un','en']),
              ('fr', ['le','la','et','est','un','que','les','des'])
            ),
            t AS (
              SELECT doc_id, lang, text,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents
            ),
            st AS (
              SELECT doc_id, lang, text, toks, len(toks)::BIGINT AS token_count,
                     CASE WHEN len(toks) > 0
                       THEN list_sum(list_transform(toks, w -> length(w))) * 1.0 / len(toks)
                       ELSE 0.0 END AS awl,
                     CASE WHEN len(toks) > 0
                       THEN len(list_distinct(toks)) * 1.0 / len(toks)
                       ELSE 0.0 END AS ttr,
                     CASE WHEN len(toks) > 0
                       THEN len(list_filter(toks, w -> list_contains(
                         ['the','a','of','and','is','to','in','that'], w))) * 1.0 / len(toks)
                       ELSE 0.0 END AS swr
              FROM t
            ),
            pred AS (
              SELECT doc_id, cand AS lang_pred, round(score, 6) AS lang_pred_score
              FROM (
                SELECT st.doc_id, p.cand,
                       CASE WHEN len(st.toks) > 0
                         THEN len(list_filter(st.toks, w -> list_contains(p.words, w)))
                              * 1.0 / len(st.toks)
                         ELSE 0.0 END AS score
                FROM st CROSS JOIN profiles p
              )
              QUALIFY row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, cand ASC) = 1
            )
            SELECT st.doc_id, st.lang, st.token_count,
                   round(awl, 6) AS avg_word_len,
                   round(ttr, 6) AS type_token_ratio,
                   round(swr, 6) AS stopword_ratio,
                   round(least(1.0, token_count / 50.0) * 0.4 + ttr * 0.3
                         + least(1.0, swr * 5) * 0.3, 6) AS quality_score,
                   p.lang_pred, p.lang_pred_score,
                   len(list_filter(regexp_split_to_array(trim(st.text), '\\s+'),
                                   x -> x <> '')) AS ws_tokens,
                   len(regexp_extract_all(st.text,
                     '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
                   )) AS bpe_tokens
            FROM st JOIN pred p USING (doc_id)
        """,
    }

    s["corpus_stats"] = """
        WITH t AS (
          SELECT doc_id, source, n_chars,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        b AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> {'w1': toks[i], 'w2': toks[i+1]}),
                        recursive := true)
          FROM t WHERE len(toks) >= 2
        ),
        uni AS (
          SELECT w1, count(*) AS c1
          FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1
        ),
        vn AS (SELECT count(*) AS v FROM uni),
        pair AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY w1, w2),
        lm AS (
          SELECT b.doc_id, count(*) AS n,
                 round(avg(ln((c2 + 1.0) / (c1 + v))), 6) AS s
          FROM b JOIN pair USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vn
          GROUP BY b.doc_id
        ),
        cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        z AS (SELECT sum(pow(n, 0.7)) AS z FROM cnt)
        SELECT 'lm' AS part, d.doc_id::VARCHAR AS key, lm.s AS value
        FROM documents d LEFT JOIN lm ON lm.doc_id = d.doc_id
        UNION ALL
        SELECT 'lm_n', d.doc_id::VARCHAR, coalesce(lm.n, 0)::DOUBLE
        FROM documents d LEFT JOIN lm ON lm.doc_id = d.doc_id
        UNION ALL
        SELECT 'mix', source, round(pow(n, 0.7) / z, 6) FROM cnt CROSS JOIN z
        UNION ALL
        SELECT 'mix_n', source, n::DOUBLE FROM cnt
        UNION ALL
        SELECT 'shuffle', doc_id::VARCHAR,
               (row_number() OVER (
                  ORDER BY md5('shuffle|' || doc_id::VARCHAR), doc_id))::DOUBLE
        FROM documents
        UNION ALL
        SELECT 'pctl', source || '|' || CAST(q::DOUBLE AS VARCHAR), round(v, 6)
        FROM (
          SELECT source,
                 unnest([0.25, 0.5, 0.75]) AS q,
                 unnest(quantile_cont(n_chars, [0.25, 0.5, 0.75])) AS v
          FROM documents GROUP BY source
        )
    """

    s["relational_suite"] = """
        WITH q1 AS (
          SELECT l_returnflag AS rf, l_linestatus AS ls,
                 SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty,
                 SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS sum_base,
                 SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                   AS sum_disc_price,
                 COUNT(*) AS n
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
          GROUP BY 1, 2
        ),
        q1u AS (
          SELECT 'q1|' || rf || '|' || ls || '|sum_qty' AS key,
                 sum_qty::DOUBLE AS value FROM q1
          UNION ALL
          SELECT 'q1|' || rf || '|' || ls || '|sum_base', sum_base::DOUBLE FROM q1
          UNION ALL
          SELECT 'q1|' || rf || '|' || ls || '|sum_disc_price',
                 sum_disc_price::DOUBLE FROM q1
          UNION ALL
          SELECT 'q1|' || rf || '|' || ls || '|count', n::DOUBLE FROM q1
        ),
        q3 AS (
          SELECT o_orderkey,
                 SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                   AS revenue
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND CAST(o_orderdate AS DATE) < DATE '1997-06-01'
            AND CAST(l_shipdate AS DATE) > DATE '1997-06-01'
          GROUP BY o_orderkey
          ORDER BY revenue DESC, o_orderkey ASC
          LIMIT 10
        ),
        q5 AS (
          SELECT n_name,
                 SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                   AS revenue
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          WHERE r_name = 'ASIA'
          GROUP BY n_name
        ),
        q14 AS (
          SELECT
            SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                     ELSE CAST(0 AS DECIMAL(38,6)) END) AS promo,
            SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total
          FROM lineitem JOIN part ON l_partkey = p_partkey
        )
        SELECT 'q1' AS part, key, value FROM q1u
        UNION ALL
        SELECT 'q3', 'q3|' || o_orderkey::VARCHAR, revenue::DOUBLE FROM q3
        UNION ALL
        SELECT 'q5', 'q5|' || n_name, revenue::DOUBLE FROM q5
        UNION ALL
        SELECT 'q14', 'q14|promo_share',
               round(promo::DOUBLE / total::DOUBLE, 9) FROM q14
    """
    s["stream_counts_dedup"] = """
        SELECT 'window' AS part,
               epoch_us(window_start)::VARCHAR || '|' || event_type AS key,
               n, sum_value
        FROM (
          SELECT date_trunc('hour', ts) AS window_start, event_type,
                 count(*) AS n, round(sum(value), 4) AS sum_value
          FROM events GROUP BY 1, 2
        )
        UNION ALL
        SELECT 'dedup', user_id::VARCHAR || '|' || event_type,
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        FROM (SELECT DISTINCT user_id, event_type FROM events)
    """
    s["stream_neardup_keys"] = f"""
        WITH {_SIMHASH_PAIR_CTES}
        SELECT DISTINCT sh AS simhash FROM fp
    """

    # ---- round-3 merged oracles: part-tagged unions of the per-op SQL ----
    u = _tag_union
    roundtrip = "SELECT doc_id, text, lang, source, n_chars FROM documents"
    merged = {
        "ql_filter_docs": u(
            [("range", s["ql_filter_range"]), ("regex", s["ql_filter_regex"])]
        ),
        "knn_suite": "\nUNION ALL\n".join(
            f"SELECT * FROM (\n{s[k]}\n)"
            for k in (
                "knn_cosine", "knn_sqeuclidean_filtered",
                "knn_euclidean_normalized", "knn_inner_product",
            )
        ),
        "sampling_suite": u(
            [
                ("hash", s["hash_sample"]),
                ("stratified", s["stratified_sample"]),
                ("weighted", s["weighted_sample"]),
                ("cap", s["cap_per_group"]),
            ],
            cols="doc_id",
        )
        + """
            UNION ALL
            SELECT 'split_' ||
                   CASE
                     WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
                          < '028f5c28' THEN 'test'
                     WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
                          < 'fd70a3d7' THEN 'train'
                     ELSE 'val' END AS part,
                   doc_id
            FROM documents
            UNION ALL
            SELECT 'shard_' ||
                   (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 8)::VARCHAR AS part,
                   doc_id
            FROM documents
        """,
        "vocab_ngrams": (
            "SELECT 'vocab' AS part, token AS term, count AS n, "
            f"token_id::BIGINT AS term_id FROM (\n{s['vocabulary']}\n)"
            "\nUNION ALL\n"
            "SELECT 'bigram' AS part, gram AS term, n_occurrences AS n, "
            f"CAST(NULL AS BIGINT) AS term_id FROM (\n{s['ngram_counts']}\n)"
        ),
        "temporal_joins": (
            f"SELECT 'asof' AS part, * FROM (\n{s['asof_join']}\n)"
            "\nUNION ALL\n"
            "SELECT 'range' AS part, event_id, user_id, "
            f"CAST(NULL AS BIGINT) AS view_event FROM (\n{s['range_join']}\n)"
        ),
        "roundtrip_codecs": u(
            [("store", roundtrip), ("json_gzip", roundtrip), ("protobuf", roundtrip)]
        )
        + "\nUNION ALL\n"
        + (
            "SELECT 'pb_ndarray' AS part, vec_id AS doc_id, "
            "CAST(CAST(FLOOR(list_aggregate(list_transform(embedding, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') * 1000000 "
            "+ 0.5) AS BIGINT) AS VARCHAR) AS text, "
            "'<f4' AS lang, 'pb_ndarray' AS source, "
            "CAST(len(embedding) AS BIGINT) AS n_chars FROM embeddings"
        ),
        "dedup_embedding": (
            u(
                [
                    ("exact_gate", s["dedup_embedding"]),
                    ("bucket_gate", s["dedup_embedding_lsh"]),
                ],
                cols=(
                    "id_a, id_b, cosine_dist, CAST(NULL AS BIGINT) AS id, "
                    "CAST(NULL AS INT) AS cell, "
                    "CAST(NULL AS BIGINT) AS dup_group, "
                    "CAST(NULL AS DOUBLE) AS centroid_dist, "
                    "CAST(NULL AS INT) AS keep"
                ),
            )
            + "\nUNION ALL\n"
            + (
                "SELECT 'semantic' AS part, CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS DOUBLE) AS cosine_dist, "
                "id, cell, dup_group, centroid_dist, "
                "CAST(keep AS INT) AS keep "
                f"FROM (\n{s['semantic_dedup']}\n)"
            )
            + "\nUNION ALL\n"
            + (
                "SELECT 'semantic_p2' AS part, CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS DOUBLE) AS cosine_dist, "
                "id, cell, dup_group, centroid_dist, "
                "CAST(keep AS INT) AS keep "
                f"FROM (\n{s['semantic_dedup_p2']}\n)"
            )
        ),
        "dedup_text_pairs": u(
            [
                ("minhash_lsh", s["dedup_minhash_lsh"]),
                ("exact", s["dedup_ngram_jaccard"]),
            ]
        ),
        "group_batch_counts": (
            "SELECT 'group' AS part, group_key AS key, n, first_offset AS min_id, "
            f"CAST(NULL AS BIGINT) AS max_id FROM (\n{s['group_counts']}\n)"
            "\nUNION ALL\n"
            "SELECT 'batch' AS part, batch_id::VARCHAR AS key, n, min_id, max_id "
            f"FROM (\n{s['batch_ids']}\n)"
        ),
        "reduce_suite": (
            "SELECT 'merge' AS part, id::VARCHAR AS id, "
            "CAST(NULL AS VARCHAR) AS parent_id, CAST(NULL AS INT) AS granularity, "
            f"text, n_chars, CAST(NULL AS DOUBLE) AS weight FROM (\n{s['reduce_merge']}\n)"
            "\nUNION ALL\n"
            "SELECT 'nested' AS part, id, parent_id, granularity, text, "
            f"CAST(NULL AS BIGINT) AS n_chars, weight FROM (\n{s['reduce_nested']}\n)"
        ),
        "traverse_suite": (
            f"SELECT 'paths' AS part, * FROM (\n{s['traverse_paths']}\n)"
            "\nUNION ALL\n"
            f"SELECT 'attrs' AS part, * FROM (\n{s['traverse_attrs']}\n)"
            "\nUNION ALL\n"
            "SELECT 'matches' AS part, id, parent_id, granularity, "
            f"CAST(NULL AS VARCHAR) AS text FROM (\n{s['traverse_matches']}\n)"
        ),
        "content_codecs": (
            f"SELECT 'feature_hash' AS part, * FROM (\n{s['feature_hash_csv']}\n)"
            "\nUNION ALL\n"
            "SELECT 'text_tensor' AS part, doc_id, tensor_csv AS value "
            f"FROM (\n{s['text_to_tensor']}\n)"
            "\nUNION ALL\n"
            "SELECT 'datauri' AS part, doc_id, datauri AS value "
            f"FROM (\n{s['datauri']}\n)"
        ),
    }
    merged["dedup_simhash"] = (
        "SELECT 'fingerprints' AS part, doc_id AS a, CAST(NULL AS BIGINT) AS b, "
        f"simhash AS v FROM (\n{s['dedup_simhash']}\n)"
        "\nUNION ALL\n"
        "SELECT 'pairs', id_a, id_b, hamming::BIGINT "
        f"FROM (\n{s['dedup_simhash_pairs']}\n)"
    )
    # r4: the multimodal entry's ENTIRE chain is deterministic (the fake
    # decode derives shape from md5 bytes and tiles the blob's ASCII
    # bytes; nearest-neighbour resize is an index gather; windows are
    # slices), so the oracle replays it in SQL: shape from md5 hex,
    # per-chunk pixel sums as nested list comprehensions over the gather
    # indices. Upgrades mm_image_chunks from rows-only to hash-gated —
    # the one non-green r3 row.
    merged["mm_image_chunks"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, text, length(text) AS L,
            (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS b0,
            (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1 AS b1
          FROM documents WHERE doc_id < 200
        ), g AS (
          SELECT id, text, L, 4 + (b0 % 8) AS h, 4 + (b1 % 8) AS w FROM d
        ), c AS (
          SELECT id, text, L, h, w, unnest(range(0, 4)) AS o FROM g
        )
        SELECT 'image' AS part, id || '.' || CAST(o AS VARCHAR) AS id,
          id AS parent_id,
          1 AS granularity, CAST(o AS BIGINT) AS "offset",
          4 AS height, 4 AS width, 3 AS channels,
          ROUND(list_sum(flatten(flatten(
            [[[ CAST(ascii(substr(text,
                  1 + ((CAST(FLOOR((((o // 2) * 4 + r) * h) / 8.0) AS INT) * w * 3
                       + CAST(FLOOR((((o % 2) * 4 + cc) * w) / 8.0) AS INT) * 3
                       + ch) % L), 1)) AS DOUBLE)
                FOR ch IN range(0, 3)] FOR cc IN range(0, 4)] FOR r IN range(0, 4)]
          ))), 4) AS pixel_sum
        FROM c
        UNION ALL
        -- int16 reconstruction is SIGNED little-endian (the engine's
        -- numpy '<i2' view) and amax takes |sample|: raw = b0 + 256*b1,
        -- minus 65536 when the sign bit is set, then abs.  Blobs shorter
        -- than one sample decode to zeros(1) engine-side (n_samples=1,
        -- amax=0) — replayed here.  NOTE the char-based substr/ascii
        -- replay assumes 1-byte (ASCII) characters, which holds for the
        -- driver's documents.text; non-ASCII text would need a byte-level
        -- oracle.
        SELECT 'audio' AS part, id, id AS parent_id, 0 AS granularity,
          CAST(0 AS BIGINT) AS "offset",
          CAST(CASE WHEN L < 2 THEN 1 ELSE L // 2 END AS INT) AS height,
          1 AS width, 1 AS channels,
          CASE WHEN L < 2 THEN 0.0 ELSE ROUND(list_max(
            [ abs(CASE WHEN ascii(substr(text, 2 * i + 1, 1))
                       + 256 * ascii(substr(text, 2 * i + 2, 1)) >= 32768
                  THEN ascii(substr(text, 2 * i + 1, 1))
                       + 256 * ascii(substr(text, 2 * i + 2, 1)) - 65536
                  ELSE ascii(substr(text, 2 * i + 1, 1))
                       + 256 * ascii(substr(text, 2 * i + 2, 1)) END
              ) / 32768.0
              FOR i IN range(0, L // 2) ]
          ), 6) END AS pixel_sum
        FROM d
        UNION ALL
        SELECT 'video' AS part, id || '.' || CAST(k AS VARCHAR) AS id,
          id AS parent_id, 1 AS granularity, CAST(k AS BIGINT) AS "offset",
          2 AS height, 2 AS width, 3 AS channels,
          ROUND(list_sum(
            [ CAST(ascii(substr(text, 1 + ((2 * k * 12 + j) % L), 1)) AS DOUBLE)
              FOR j IN range(0, 12) ]
          ), 4) AS pixel_sum
        FROM (SELECT id, text, L, unnest(range(0, 2)) AS k FROM d)
        UNION ALL
        -- mesh (r11): 1 + (md5 byte0 % 3) geometries per scene, geometry
        -- g's 16x3 points tile the blob's bytes rotated by g (float32
        -- integer coordinates, exact) — point sum replays byte-for-byte
        SELECT 'mesh' AS part, id || '.' || CAST(g AS VARCHAR) AS id,
          id AS parent_id, 1 AS granularity, CAST(g AS BIGINT) AS "offset",
          16 AS height, 3 AS width, 1 AS channels,
          ROUND(list_sum(
            [ CAST(ascii(substr(text, 1 + ((g + j) % L), 1)) AS DOUBLE)
              FOR j IN range(0, 48) ]
          ), 4) AS pixel_sum
        FROM (SELECT id, text, L, unnest(range(0, 1 + (b0 % 3))) AS g FROM d)
    """
    # r4: Document-schema QL truth table (reference test_filter.py:26-85
    # semantics) — the oracle synthesizes the SAME table as flat columns
    # (it needs the VALUES, not the nested physical schema) and states
    # each filter's two-valued/default-aware meaning in plain SQL.
    merged["ql_filter_size_placeholder"] = (
        "WITH doc AS (SELECT CAST(doc_id AS VARCHAR) AS id, "
        "CASE WHEN doc_id % 11 = 0 THEN NULL WHEN doc_id % 7 = 0 THEN '' "
        "ELSE text END AS text, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL WHEN doc_id % 5 = 1 THEN '' "
        "ELSE 'p' || CAST(doc_id % 13 AS VARCHAR) END AS parent_id, "
        "CAST(doc_id % 4 AS INT) AS granularity, "
        "CASE WHEN doc_id % 3 = 0 THEN NULL "
        "ELSE CAST(doc_id % 10 AS DOUBLE) / 2.0 END AS weight, "
        "CASE WHEN doc_id % 6 = 0 THEN 0 ELSE 2 END AS n_loc, "
        "CAST(doc_id % 20 AS DOUBLE) AS tag_x, "
        "'n' || CAST(doc_id % 6 AS VARCHAR) AS tag_name, "
        "(doc_id % 2 = 0) AS tag_flag, "
        "(doc_id % 9 = 0) AS has_extra, "
        "CAST(doc_id % 17 AS DOUBLE) / 16.0 AS sc_value "
        "FROM documents WHERE doc_id < 400)\n"
        "SELECT 'size_placeholder' AS part, CAST(vec_id AS VARCHAR) AS id "
        "FROM embeddings WHERE len(embedding) = 64 AND vec_id > label"
        "\nUNION ALL SELECT 'exists_text', id FROM doc "
        "WHERE text IS NOT NULL AND text <> ''"
        "\nUNION ALL SELECT 'not_exists_text', id FROM doc "
        "WHERE NOT (text IS NOT NULL AND text <> '')"
        "\nUNION ALL SELECT 'exists_weight', id FROM doc WHERE weight IS NOT NULL"
        "\nUNION ALL SELECT 'exists_location', id FROM doc WHERE n_loc > 0"
        "\nUNION ALL SELECT 'tags_num_range', id FROM doc "
        "WHERE tag_x >= 10 AND tag_x < 17"
        "\nUNION ALL SELECT 'tags_str_eq', id FROM doc WHERE tag_name = 'n3'"
        "\nUNION ALL SELECT 'tags_bool', id FROM doc WHERE tag_flag"
        "\nUNION ALL SELECT 'tags_exists', id FROM doc WHERE has_extra"
        "\nUNION ALL SELECT 'dunder_struct', id FROM doc WHERE sc_value < 0.5"
        "\nUNION ALL SELECT 'nin_two_valued', id FROM doc "
        "WHERE parent_id IS NULL OR parent_id NOT IN ('p1', 'p2', 'p3')"
        "\nUNION ALL SELECT 'not_multi', id FROM doc "
        "WHERE NOT (granularity > 1 AND (text IS NOT NULL AND text <> ''))"
    )
    # one key per registry entry; the rest of ``s`` are merged sub-oracles
    both = {**s, **merged}
    return {name: both[name] for name in queries()}
