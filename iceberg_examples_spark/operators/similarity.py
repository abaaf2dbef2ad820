"""Similarity search over the ``embeddings`` table (north-star extension,
SURVEY §2.9): brute-force cosine top-k, IVF-style pruned top-k, and
sign-LSH embedding near-dup.

Public constructions: IVF coarse quantization follows Jégou et al. 2011
("Product Quantization for Nearest Neighbor Search" — the inverted-file
part, without PQ codes); sign-random-projection LSH is Charikar 2002
("Similarity estimation techniques from rounding algorithms"), here with
axis-aligned hyperplanes so the DuckDB oracle can replay bucketing exactly.

Numeric determinism: all dot products / norms are left-fold ``aggregate``
over double-cast arrays — Spark's ``aggregate`` and DuckDB's
``list_reduce`` both fold left-to-right, so identical inputs give
bit-identical IEEE-754 results (verified; no rounding slop needed).

Scale design (targets: 10^9-10^10 vectors):
- brute force: queries are broadcast (small side), candidates stream
  through one scan; the per-query top-k is a window over scored pairs.
  O(Q×N) — correct but the baseline path.
- IVF variant: the ``label`` column acts as the coarse-quantizer cell
  (data arrives pre-clustered); searching only the query's cell cuts the
  scored pairs by the cell count. Real deployments: k-means centroids +
  nprobe cells — the join/partition shape is identical.
- sign-LSH near-dup: 12 sign bits → bucket; only intra-bucket pairs are
  scored. Linear-ish scale, same shape as MinHash-LSH for text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_examples_spark.catalog import load_table
from iceberg_examples_spark.checkpointing import spread
from iceberg_examples_spark.functions.exact import money_cents_sql, round_half_up_np

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 3
SIGN_BITS = 12

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0D, (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
    " 0D, (acc, v) -> acc + v))"
)


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr(_NORM.format(a="embedding")))


def _knn(spark: SparkSession, sf_dir: str, by_cell: bool) -> DataFrame:
    """Shared top-k machinery for the exact and IVF variants — ONE scoring
    expression and tie-break so the two can't drift. Queries broadcast;
    ``by_cell`` swaps the cross join for an equi-join on the coarse cell."""
    # HOF lambdas (dot/norm folds) execute on Catalyst's interpreted path
    # (higher-order functions are outside whole-stage codegen), so scoring
    # cost is CPU-bound per partition — widen a single-split toy scan to
    # session parallelism first (no-op at scale; see checkpointing.spread).
    emb = _with_norm(spread(load_table(spark, sf_dir, "embeddings")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("label").alias("cell"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        F.col("label").alias("cell"),
    )
    if by_cell:
        paired = F.broadcast(q).join(c, "cell")
    else:
        paired = F.broadcast(q.drop("cell")).crossJoin(c.drop("cell"))
    scored = paired.select(
        "q_id",
        "c_id",
        (
            F.expr(_DOT.format(a="q_emb", b="c_emb"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "cos_sim")
    )


def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query set (vec_id < 5, broadcast) ×
    candidate set (vec_id >= 5), cos = dot/(|q|·|c|), top-3 per query by
    (cos DESC, cand_id) — deterministic tie-break."""
    return _knn(spark, sf_dir, by_cell=False)


def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine top-k: identical scoring (shared _knn machinery),
    but candidates are restricted to the query's coarse cell (label). At
    10^10 vectors with 1024 cells this is a 1000× cut in scored pairs;
    the equi-join on the cell id replaces the cross join."""
    return _knn(spark, sf_dir, by_cell=True)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection via sign-LSH:

    Corpus = embeddings ∪ planted near-copies (vec_id < 20 scaled by 1.01
    → cosine ≈ 1, same sign bits). Bucket = the first 12 dimension signs
    packed into an int; candidate pairs share a bucket; verify
    cos ≥ 0.999. Only intra-bucket pairs are ever scored (4096 buckets)."""
    base = load_table(spark, sf_dir, "embeddings")
    planted = base.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * cast(1.01 as float))").alias(
            "embedding"
        ),
        "label",
    )
    corpus = _with_norm(base.unionByName(planted))
    bucket = sum(
        F.when(F.element_at("embedding", i + 1) >= 0, F.lit(2**i)).otherwise(
            F.lit(0)
        )
        for i in range(SIGN_BITS)
    )
    bucketed = corpus.withColumn("bucket", bucket.cast("int"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                F.expr(_DOT.format(a="a.embedding", b="b.embedding"))
                / (F.col("a.norm") * F.col("b.norm"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.999)
    )


EMB_DIM = 64
EMB_SCALE = 1_000_000


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics of the embedding column (the
    feature-normalization / whitening precursor: mean-center and scale
    need exact per-dim sums and sum-of-squares over the whole corpus).

    Scale formulation: NO explode. Exploding (row, dim, value) multiplies
    the shuffle by the dimensionality (64× here, 4096× for real models);
    instead each per-dim sum is its own aggregate column — 2·DIM + 1
    narrow columnar aggregates with map-side partial aggregation, so the
    only exchange is one partial-agg row per partition. The 64-row output
    shape is recovered by exploding the single aggregated row (trivial).

    Plan-BUILD discipline: the whole query is three ``selectExpr`` calls
    (one py4j round trip each, strings parsed JVM-side). The first
    landing built 129 Column objects via ``F.expr``/``alias`` — ~0.9 s
    of py4j round trips PER INVOCATION, 7× the JVM's parse+analyze cost
    for the same strings (measured: build 0.89 → 0.12 s). The same
    lesson as lsh_index_probe's selectExpr rewrite in round 5: for
    wide-expression plans, ship strings, not object graphs.

    Cross-engine exactness: float sums are shuffle-order-dependent, so
    each element is scaled to BIGINT per row by functions/exact.py's
    ``money_cents_sql`` (round(x·1e6), and round(x²·1e6) from one
    deterministic double multiply) and accumulated exactly; ``mean`` is
    one trailing double division off the exact sum — the
    functions/exact.py discipline applied elementwise."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = "cast(embedding[{i}] as double)".format
    aggs = ["cast(count(1) as bigint) as n"]
    aggs += [
        f"sum({money_cents_sql(e(i=i), EMB_SCALE)}) as s{i}"
        for i in range(EMB_DIM)
    ]
    aggs += [
        f"sum({money_cents_sql(f'{e(i=i)} * {e(i=i)}', EMB_SCALE)}) as q{i}"
        for i in range(EMB_DIM)
    ]
    arr = ",".join(
        f"named_struct('sum_s', s{i}, 'sumsq_s', q{i})"
        for i in range(EMB_DIM)
    )
    return (
        emb.selectExpr(*aggs)
        .selectExpr("n", f"posexplode(array({arr})) as (dim, sq)")
        .selectExpr(
            "cast(dim as bigint) as dim",
            "n",
            "sq.sum_s as sum_s",
            "sq.sumsq_s as sumsq_s",
            f"cast(sq.sum_s as double) / {EMB_SCALE}.0 / cast(n as double)"
            " as mean",
        )
    )


def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scaled squared-norm via ``mapInArrow`` — the
    Arrow-NATIVE batch API (pyspark.sql.DataFrame.mapInArrow): the UDF
    receives pyarrow RecordBatches and computes with zero pandas
    conversion — for pure-numeric kernels this skips mapInPandas'
    Arrow→pandas→Arrow materialization entirely (the conversion cost is
    the pandas layer, not Arrow transport). Written justification for a
    Python stage, per house rules: a fixed-width float kernel is exactly
    the vectorized-numpy case (same argument as clustering.kmeans_large's
    assign step), and this query exists to cover the mapInArrow surface
    the pandas twin cannot.

    Exactness across engines AND across numpy: the per-element scaled
    square round(x²·1e6) is computed by ``round_half_up_np`` (ties up, like
    SQL ``round`` on a non-negative value; np.round would banker's-round)
    into int64, then summed — integer, order-independent, so numpy's
    SIMD/pairwise summation cannot diverge from the oracle's left-fold."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            emb = batch.column("embedding")
            flat = np.asarray(emb.flatten(), dtype=np.float64)
            arr = flat.reshape(n, EMB_DIM)
            scaled = round_half_up_np(arr * arr * EMB_SCALE).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.asarray(batch.column("vec_id")).astype(np.int64)
                    ),
                    pa.array(scaled.sum(axis=1)),
                ],
                ["vec_id", "sumsq_s"],
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(kernel, "vec_id bigint, sumsq_s bigint")


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_LIST_K = 50  # depth of each input ranking fed to the fusion
RRF_TOPK = 10
RRF_QUERY_VEC_ID = 0  # dense query = doc 0's embedding


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009,
    "Reciprocal rank fusion outperforms Condorcet..."): fuse a BM25
    lexical ranking over ``documents.text`` with a dense cosine ranking
    over the SAME id space (``embeddings.vec_id`` = ``documents.doc_id``)
    against one fixed query vector; rrf = sum over lists of
    1/(60 + rank); top-10 by fused score.

    Scale design: each input ranking is cut to its top-50 BEFORE the
    fusion join (orderBy + limit = AQE partial per-partition top-k, a
    single-reducer merge of kilobytes), so the full-outer fusion join
    touches <=100 rows no matter the corpus size; the per-corpus work is
    the two underlying one-pass rankings. The rank windows run on the
    already-limited lists, never corpus-wide."""
    from iceberg_examples_spark.operators.llm_quality import bm25_ranked

    lex_top = bm25_ranked(spark, sf_dir, RRF_LIST_K)
    lex = lex_top.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("bigint")
        .alias("r_lex"),
    )

    emb = _with_norm(spread(load_table(spark, sf_dir, "embeddings")))
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    dense_top = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            (
                F.expr(_DOT.format(a="q_emb", b="embedding"))
                / (F.col("q_norm") * F.col("norm"))
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(RRF_LIST_K)
    )
    dense = dense_top.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("id")))
        .cast("bigint")
        .alias("r_dense"),
    )

    one = F.lit(1.0)
    fused = lex.join(dense, "id", "full_outer").select(
        "id",
        "r_lex",
        "r_dense",
        (
            F.coalesce(one / (F.col("r_lex") + RRF_K), F.lit(0.0))
            + F.coalesce(one / (F.col("r_dense") + RRF_K), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(RRF_TOPK)
