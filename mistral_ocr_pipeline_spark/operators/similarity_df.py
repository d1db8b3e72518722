"""DataFrame-native query sides for the ANN kernels — and the IVFPQ
composite index built on them.

The collect-form kernels in ``similarity`` (`brute_force_topk`,
`lsh_topk`, `ivf_topk`, `pq_topk`) materialize the query relation on the
driver (``_collect_queries`` / a driver-built PQ LUT) and broadcast it
into an Arrow kernel.  That is the right LOW-LATENCY shape for top-k
retrieval — a handful of queries against a huge corpus — but the wrong
shape for a corpus-sized query relation (reranking a whole eval set,
refreshing an online index, corpus-vs-corpus joins): the collect OOMs
the driver long before the cluster is busy.

These forms keep the query relation a DataFrame END TO END:

* candidate generation is an **equi-join** on in-plan bucket/cell keys
  (hyperplane sign bits for LSH, centroid argmax for IVF) — a standard
  shuffle join that AQE skew-handles, so the query side scales exactly
  like the corpus side;
* the exact brute force is an explicit cartesian (inherently all-pairs;
  pass ``broadcast_queries=False`` to keep both sides partitioned);
* scoring is the shared `cosine_expr` / ADC ``aggregate`` fold —
  sequential array-order arithmetic, which makes every form replay the
  SAME SQL oracles as the collect kernels (the DuckDB twins compute
  ``list_dot_product`` sequentially, exactly `fold_dot`);
* ranking is a per-query ``row_number`` window.

Nothing query-sized ever rides the driver; the only driver residency
left in the ANN stack is the INDEX build (`_kmeans_centroids` /
`pq_codebooks_kmeans` train on a bounded, hash-ordered sample — a
deliberate, documented bounded collect).

``ivfpq_topk`` is the FAISS-shaped composite (IndexIVFPQ; both the
raw-vector form and the FAISS-default ``by_residual=True`` residual
encoding): IVF coarse cells prune the corpus to the probed cells, PQ
asymmetric-distance scoring ranks inside them reading only the m-byte
code table, and an optional exact-cosine refinement touches float
vectors for the top-R candidates alone.  At 100 TB the encode
pass is written once as a (cell, codes) table bucketed by cell; each
query batch equi-joins its probed cells and folds over a LUT it
computed in-plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from mistral_ocr_pipeline_spark.operators.similarity import (
    _empty_topk,
    _kmeans_centroids,
    cosine_expr,
    pq_codebooks_kmeans,
    pq_encode,
)


def _dot_lit_sql(vec_sql: str, vals) -> str:
    """The `fold_dot` expression against a literal vector, as ONE SQL
    string: building wide literal plans through the Python Column API
    costs a py4j round trip per node (a 64-entry PQ LUT alone is
    thousands), while one ``F.expr`` string parses in the JVM in
    microseconds — same expression tree, ~10× faster plan construction.
    ``repr`` round-trips float64 exactly (the oracle-literal
    convention), and the fold shape is fold_dot's: seed 0.0, left-to-
    right adds."""
    arr = "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _seq_dot(a, b) -> float:
    """Driver-side sequential fold — bit-identical to `fold_dot` over
    the same literals (and to the oracles' list_dot_product)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _dvec(col: F.Column) -> F.Column:
    # double throughout so every fold is the same IEEE op sequence as a
    # SQL DOUBLE[] dot product (float*float rounds each product first)
    return F.transform(col, lambda x: x.cast("double"))


def _rank_topk(scored: DataFrame, k: int, score_col: str, descending: bool) -> DataFrame:
    order = F.col(score_col).desc() if descending else F.col(score_col).asc()
    w = W.partitionBy("query_id").orderBy(order, F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", score_col, "rank")
    )


def brute_force_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact cosine top-k with a DataFrame query side: corpus × queries
    cartesian (exact search IS all-pairs), `cosine_expr` scoring, window
    top-k.  ``broadcast_queries=True`` is the retrieval shape (small
    query block rides the broadcast); ``False`` keeps both sides
    partitioned — a distributed block-nested-loop for corpus-sized query
    relations, O(|C|·|Q|) by definition (use `lsh_topk_df` /
    `ivf_topk_df` when that is too much).  Value-identical to
    `similarity.brute_force_topk` at the shared 6-dp rounding."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    joined = c.crossJoin(F.broadcast(q) if broadcast_queries else q)
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    return _rank_topk(scored, k, "cosine", descending=True)


def lsh_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_planes: int = 6,
    n_probe: int = 3,
    n_tables: int = 4,
    seed: int = 7,
    dim: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Multi-table multi-probe hyperplane LSH with a DataFrame query
    side — semantics of `similarity.lsh_topk`, candidates via EQUI-JOIN:

    * corpus: per table, the bucket id Σ 2^p·[proj_p ≥ 0] is computed
      IN-PLAN from plane literals (one fold per plane) and exploded to
      (t, bucket) keys — map-side only, ``n_tables`` rows per vector;
    * queries: the probe set (own bucket + the ``n_probe−1``
      lowest-|projection| bit flips — ``array_sort`` over
      (|proj|, p) structs replays the kernel's argsort) is likewise
      in-plan, ``n_tables × n_probe`` keys per query;
    * candidates = probes ⋈ buckets on (t, bucket) — the shuffle is on
      bucket keys, never all-pairs, and a corpus-sized query relation
      just makes the join's left side bigger;
    * cross-table duplicate pairs carry identical cosines, so the
      groupBy(query, vec) min is value-neutral dedup (the collect
      kernel's lexsort-first, the oracle's DISTINCT).

    Signs compare a float64 dot against 0 on RAW vectors —
    normalization scales projections by a positive constant, so sign
    and |proj| order match the kernel's normalized ones."""
    first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        return _empty_topk(corpus)
    d = dim or first.d
    planes = np.random.RandomState(seed).standard_normal((n_tables, n_planes, d))
    pow2 = F.array(*[F.lit(1 << p) for p in range(n_planes)])

    def projections(vec_sql: str, t: int) -> list[F.Column]:
        # parsed-SQL literal folds (see `_dot_lit_sql`) — the Column-API
        # form costs n_tables × n_planes × dim py4j calls to build
        return [
            F.expr(_dot_lit_sql(vec_sql, planes[t][p])) for p in range(n_planes)
        ]

    def bucket_of(projs: list[F.Column]) -> F.Column:
        b = F.lit(0)
        for p, pr in enumerate(projs):
            b = b + F.when(pr >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        return b.cast("int")

    c0 = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    c_entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                bucket_of(projections("_cv", t)).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    c = c0.select("vec_id", "_cv", F.explode(c_entries).alias("e")).select(
        "vec_id", "_cv", F.col("e.t").alias("t"), F.col("e.bucket").alias("bucket")
    )

    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    q_entries = []
    for t in range(n_tables):
        projs = projections("_qv", t)
        bucket = bucket_of(projs)
        order = F.transform(
            F.array_sort(
                F.array(
                    *[
                        F.struct(F.abs(pr).alias("a"), F.lit(p).alias("p"))
                        for p, pr in enumerate(projs)
                    ]
                )
            ),
            lambda s: s["p"],
        )
        flips = F.transform(
            F.slice(order, 1, max(0, n_probe - 1)),
            lambda b: bucket.bitwiseXOR(F.element_at(pow2, b + 1)),
        )
        q_entries.append(
            F.struct(
                F.lit(t).alias("t"),
                F.concat(F.array(bucket), flips).alias("bs"),
            )
        )
    q1 = q0.select("query_id", "_qv", F.explode(F.array(*q_entries)).alias("e"))
    q = q1.select(
        "query_id", "_qv", F.col("e.t").alias("t"), F.explode("e.bs").alias("bucket")
    )

    cand = q.join(c, ["t", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    scored = (
        cand.select(
            "query_id",
            "vec_id",
            cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
        # duplicate (query, vec) pairs from different tables carry the
        # SAME cosine (same two vectors) — min() is pure dedup
        .groupBy("query_id", "vec_id")
        .agg(F.min("cosine").alias("cosine"))
    )
    return _rank_topk(scored, k, "cosine", descending=True)


def _cell_dots(vec_sql: str, cent: np.ndarray) -> F.Column:
    """Array of centroid dots, built as one parsed SQL expression (see
    `_dot_lit_sql`).  ``vec_sql`` names the (double-array) vector column
    in SQL."""
    return F.expr(
        "array("
        + ",".join(_dot_lit_sql(vec_sql, cent[c]) for c in range(len(cent)))
        + ")"
    )


def _argmax_cell(dots: F.Column) -> F.Column:
    # first index of the max — float equality against the element
    # array_max returned is exact, so this is numpy's first-hit argmax
    # and the oracle's row_number() ORDER BY d DESC, c
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 3,
    kmeans_iters: int = 8,
    sample_size: int = 2048,
    seed: int = 11,
    centroids: np.ndarray | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-Flat ANN with a DataFrame query side — semantics of
    `similarity.ivf_topk`: corpus cell = in-plan argmax over centroid
    dots, query probes = top-``n_probe`` cells via posexplode + window
    (fully distributed — a corpus-sized query relation is just a bigger
    window input, partitioned per query), candidates via the cell
    EQUI-JOIN, exact cosine inside probed cells only.  The index build
    (`_kmeans_centroids` unless ``centroids`` is given) stays the
    documented bounded driver-side sample; the QUERY side never touches
    the driver."""
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        if corpus.select(id_col).first() is None:
            return _empty_topk(corpus)
        cent = _kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, kmeans_iters, sample_size, seed
        )

    c0 = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    c = c0.select(
        "vec_id", "_cv", _argmax_cell(_cell_dots("_cv", cent)).alias("cell")
    )

    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    qd = q0.select(
        "query_id",
        "_qv",
        F.posexplode(_cell_dots("_qv", cent)).alias("cell", "_d"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell").asc())
    probes = (
        qd.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )

    cand = probes.join(c, "cell")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    # no pair dedup needed: a corpus row lives in ONE cell and a query's
    # probed cells are distinct
    return _rank_topk(scored, k, "cosine", descending=True)


def _lut_cols(
    qv_sql: str, codebooks: np.ndarray
) -> tuple[F.Column, F.Column]:
    """In-plan PQ lookup table: (_lut flat array<long>, _qq long) — the
    DataFrame twin of `pq_topk`'s driver-built LUT block.  Each partial
    ``c·c − 2·q_sub·c`` uses SEQUENTIAL folds over codeword literals
    (`fold_dot`), the exact arithmetic of the SQL oracle's
    ``list_dot_product`` — including ``c·c`` itself, which the driver
    form takes from a numpy (BLAS) sum of squares; micro-rounding uses
    Spark ``round`` (HALF_UP = half-away-from-zero, the `_micro`
    convention)."""
    m, ksub, dsub = codebooks.shape
    entries = []
    for j in range(m):
        sub_sql = f"slice({qv_sql}, {j * dsub + 1}, {dsub})"
        for kk in range(ksub):
            cb = codebooks[j][kk]
            # c·c over literals constant-folds to the same sequential
            # value either way — compute it driver-side (`_seq_dot` is
            # bit-identical to the fold) and embed one literal
            c2 = _seq_dot(cb, cb)
            entries.append(
                f"CAST(round(({c2!r}D - 2.0D * "
                f"{_dot_lit_sql(sub_sql, cb)}) * 1000000.0D, 0) AS BIGINT)"
            )
    lut = F.expr("array(" + ",".join(entries) + ")")
    qq = F.expr(
        f"CAST(round(aggregate(zip_with({qv_sql}, {qv_sql}, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v) * 1000000.0D, 0) AS BIGINT)"
    )
    return lut, qq


def _adc_expr(m: int, ksub: int) -> F.Column:
    """ADC distance in micro-units: ‖q‖² + Σⱼ lut[j, codeⱼ] as a pure
    ``aggregate`` fold over LONGS (order-independent) — shared by
    `pq_topk_df` and `ivfpq_topk`, same expression as `pq_topk`."""
    return F.col("_qq") + F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(
            F.col("_lut"), j * F.lit(ksub) + F.element_at(F.col("codes"), j + 1) + 1
        ),
    )


def pq_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    refine: int | None = None,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """PQ asymmetric-distance top-k with a DataFrame query side: the
    per-query LUT is computed IN-PLAN (`_lut_cols`) instead of on the
    driver, so a corpus-sized query batch works — pass
    ``broadcast_queries=False`` to keep it partitioned (the join is
    still against the 32×-smaller codes table, not the float vectors).
    Scoring/rank/refine are exactly `similarity.pq_topk`."""
    m, ksub, _ = codebooks.shape
    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    lut, qq = _lut_cols("_qv", codebooks)
    q1 = q0.select(
        "query_id",
        *(["_qv"] if refine is not None else []),
        lut.alias("_lut"),
        qq.alias("_qq"),
    )
    enc = pq_encode(corpus, codebooks, id_col, vec_col, keep_vec=refine is not None)
    scored = enc.crossJoin(F.broadcast(q1) if broadcast_queries else q1)
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    scored = scored.withColumn(
        "adc_dist", F.round(_adc_expr(m, ksub) / F.lit(1e6), 6)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "vec_id", "adc_dist", "rank"
        )
    return _refine_exact(ranked, refine, k)


def _refine_exact(ranked: DataFrame, refine: int, k: int) -> DataFrame:
    """Exact-cosine re-rank of the top-``refine`` ADC candidates — only
    those candidates' float vectors are ever read (carried as
    ``embedding`` by the encode pass)."""
    cand = ranked.filter(F.col("rank") <= int(refine)).select(
        "query_id", "vec_id", "_qv", _dvec(F.col("embedding")).alias("_v")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_v")).alias("cosine"),
    )
    return _rank_topk(scored, k, "cosine", descending=True)


def ivfpq_encode(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
    by_residual: bool = False,
) -> DataFrame:
    """ONE Arrow pass building the IVFPQ index table: (vec_id, cell,
    codes[, embedding]) — IVF cell = argmax centroid dot (first-hit tie
    break; raw vectors — normalization is argmax-invariant), PQ codes =
    per-subspace argmin of the reduced L2 on RAW subvectors
    (``by_residual=False``, so the codebooks are exactly
    `pq_codebooks_kmeans`'s and the codes match `pq_encode`) — or, with
    ``by_residual=True``, on the RESIDUAL v − centroid[cell] (the FAISS
    IndexIVFPQ default: residuals are smaller and better centered, so
    the same code budget quantizes finer; train the codebooks with
    ``pq_codebooks_kmeans(residual_centroids=...)``).  At scale
    this table is written once, bucketed/partitioned BY CELL, so a query
    batch's cell equi-join prunes file scans to the probed cells."""
    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((cent, books))

    out_fields = [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("codes", T.ArrayType(T.IntegerType()), False),
    ]
    if keep_vec:
        out_fields.append(
            T.StructField("embedding", T.ArrayType(T.FloatType()), True)
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_cent, b_books = bc.value
        c2 = (b_books**2).sum(axis=2)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array([list(v) for v in pdf["_vec"]], dtype=np.float64)
            cells = np.argmax(mat @ b_cent.T, axis=1).astype(np.int32)
            enc_mat = mat - b_cent[cells] if by_residual else mat
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                sub = enc_mat[:, j * dsub : (j + 1) * dsub]
                dist = c2[j][None, :] - 2.0 * (sub @ b_books[j].T)
                codes[:, j] = np.argmin(dist, axis=1)
            out = {
                "vec_id": pdf["_id"].to_numpy(dtype=np.int64),
                "cell": cells,
                "codes": list(codes),
            }
            if keep_vec:
                out["embedding"] = pdf["_vec"]
            yield pd.DataFrame(out)

    from mistral_ocr_pipeline_spark.operators.util import ensure_parallelism

    return (
        ensure_parallelism(corpus)
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .mapInPandas(kernel, T.StructType(out_fields))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 8,
    ivf_iters: int = 8,
    pq_iters: int = 4,
    sample_size: int = 2048,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    refine: int | None = None,
    exclude_self: bool = True,
    by_residual: bool = False,
) -> DataFrame:
    """IVFPQ composite ANN — the FAISS IndexIVFPQ shape
    (``by_residual=False``), DataFrame-native on the query side:

    1. **index**: trained IVF centroids (`_kmeans_centroids`) + trained
       PQ codebooks (`pq_codebooks_kmeans`) — both engine-replayable, so
       the WHOLE path value-oracles; `ivfpq_encode` writes (cell, codes)
       in one corpus pass.
    2. **query**: probes = top-``n_probe`` centroid cells (posexplode +
       window, in-plan), LUT = `_lut_cols` (in-plan).
    3. **search**: probes ⋈ codes ON CELL — the corpus pruned to probed
       cells BEFORE any scoring; ADC = long fold over the LUT; rank;
       optional exact-cosine ``refine`` touching only top-R vectors.

    vs `pq_topk`: the ADC scan drops from |C| to |C|·n_probe/n_centroids
    rows per query AND the scoring join becomes an equi-join (shuffle on
    cell keys) instead of a broadcast cartesian — the 100 TB shape.
    Recall is certified by the `ann_ivfpq_recall` claim query."""
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        if corpus.select(id_col).first() is None:
            return _empty_topk(corpus)
        cent = _kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, ivf_iters, sample_size, seed=11
        )
    books = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else pq_codebooks_kmeans(
            corpus, id_col, vec_col, m=m, ksub=ksub, iters=pq_iters,
            sample_size=sample_size,
            residual_centroids=cent if by_residual else None,
        )
    )
    enc = ivfpq_encode(
        corpus, cent, books, id_col, vec_col, keep_vec=refine is not None,
        by_residual=by_residual,
    )
    return ivfpq_search(
        enc, queries, cent, books, k=k, vec_col=vec_col,
        query_id_col=query_id_col, n_probe=n_probe, refine=refine,
        exclude_self=exclude_self, by_residual=by_residual,
    )


def ivfpq_search(
    enc: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_probe: int = 4,
    refine: int | None = None,
    exclude_self: bool = True,
    by_residual: bool = False,
) -> DataFrame:
    """Search a PERSISTED IVFPQ index — the production flow: encode the
    corpus ONCE (`ivfpq_encode`, written partitioned/bucketed by cell),
    then every query batch calls this against the stored (vec_id, cell,
    codes[, embedding]) table; nothing corpus-sized is recomputed
    (`ivf_build`/`ivf_search_assigned` convention).  ``refine`` requires
    the index to carry ``embedding`` (``keep_vec=True`` at encode
    time)."""
    cent = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, _ = books.shape
    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    q1 = q0.select(
        "query_id", "_qv", _cell_dots("_qv", cent).alias("_dots")
    )
    qd = q1.select(
        "query_id", "_qv", F.posexplode("_dots").alias("cell", "_d")
    )
    wp = W.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell").asc())
    probed = qd.withColumn("_rn", F.row_number().over(wp)).filter(
        F.col("_rn") <= n_probe
    )
    if by_residual:
        # per-(query, cell) LUT over the residual q − centroid[cell]:
        # the centroid rides as an element_at over one literal
        # array-of-arrays (parsed SQL, no driver-built relation)
        cent_lit = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in cv) + ")"
                for cv in cent
            )
            + ")"
        )
        probed = probed.withColumn(
            "_cv", F.element_at(F.expr(cent_lit), F.col("cell") + 1)
        )
        res_sql = "zip_with(_qv, _cv, (x, y) -> x - y)"
        lut, qq = _lut_cols(res_sql, books)
    else:
        lut, qq = _lut_cols("_qv", books)
    probes = probed.select(
        "query_id", lut.alias("_lut"), qq.alias("_qq"), "cell",
        *(["_qv"] if refine is not None else []),
    )

    scored = probes.join(enc, "cell")
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    scored = scored.withColumn(
        "adc_dist", F.round(_adc_expr(m, ksub) / F.lit(1e6), 6)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "vec_id", "adc_dist", "rank"
        )
    return _refine_exact(ranked, refine, k)


# --------------------------------------------------------------------------
# Scalar quantization (SQ8) — FAISS IndexScalarQuantizer QT_8bit shape
# --------------------------------------------------------------------------
def sq8_train(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Train an 8-bit scalar quantizer: per-DIMENSION [min, max] bounds
    over the corpus, returned as ONE row (lo: array<double>, hi:
    array<double>) — the whole model is two dim-length arrays, the
    quantization twin of an IVF centroid table.  min/max are exact and
    order-independent, so training is deterministic under any
    partitioning and replays verbatim in SQL (no sampling, no seeds —
    the one ANN model in the stack whose TRAINING needs no kernel at
    all).  Plan: posexplode → dim-keyed map-side-combined min/max →
    1-row array assembly."""
    ex = corpus.select(F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"))
    per_dim = ex.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))), lambda s: s.lo
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi"))), lambda s: s.hi
        ).alias("hi"),
    )


def _sq8_codes(vec: F.Column, lo: F.Column, hi: F.Column) -> F.Column:
    # code_i = round(clamp((v_i - lo_i)/(hi_i - lo_i) * 255, [0, 255]));
    # clamp BEFORE round so out-of-train-range vectors hit the same
    # saturation in both engines; degenerate dims (hi == lo) encode 0
    return F.transform(
        F.sequence(F.lit(1), F.size(vec)),
        lambda i: F.when(
            F.element_at(hi, i) == F.element_at(lo, i), F.lit(0)
        )
        .otherwise(
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.least(
                        F.lit(255.0),
                        (F.element_at(vec, i) - F.element_at(lo, i))
                        / (F.element_at(hi, i) - F.element_at(lo, i))
                        * F.lit(255.0),
                    ),
                ),
                0,
            ).cast("int")
        )
        .cast("int"),
    )


def _sq8_dequant(codes: F.Column, lo: F.Column, hi: F.Column) -> F.Column:
    return F.transform(
        F.sequence(F.lit(1), F.size(codes)),
        lambda i: F.element_at(lo, i)
        + F.element_at(codes, i).cast("double")
        * (F.element_at(hi, i) - F.element_at(lo, i))
        / F.lit(255.0),
    )


def sq8_encode(
    corpus: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to (id, codes: array<int>) against a
    `sq8_train` model — 1 byte/dimension of information (4× smaller than
    float32, 8× smaller than the double math), uniform per-dim grid.
    The model row rides a broadcast; encoding is map-only."""
    return corpus.crossJoin(F.broadcast(params)).select(
        F.col(id_col).alias("vec_id"),
        _sq8_codes(_dvec(F.col(vec_col)), F.col("lo"), F.col("hi")).alias(
            "codes"
        ),
    )


def sq8_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k over SQ8 codes: train → encode → rank by
    cosine(query, DEQUANTIZED code) — the asymmetric-distance discipline
    (raw query, compressed corpus), FAISS's IndexScalarQuantizer shape.
    Output (query_id, vec_id, sq8_cosine, rank).

    Every stage is Catalyst expressions over in-plan relations — no
    kernels, no collects, no literals — and every arithmetic step
    (min/max train, clamp-round encode, dequant fold) replays verbatim
    in SQL, so the WHOLE approximate path is value-oracle-able.  Corpus
    cost: train pass + encode pass + scoring pass (at 100 TB the codes
    table is written once and reused, like the PQ/IVFPQ encode)."""
    params = sq8_train(corpus, vec_col)
    enc = sq8_encode(corpus, params, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("_qv"),
    )
    joined = (
        enc.crossJoin(F.broadcast(params))
        .select(
            "vec_id",
            _sq8_dequant(F.col("codes"), F.col("lo"), F.col("hi")).alias("_dv"),
        )
        .crossJoin(F.broadcast(q))
    )
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_dv")).alias("sq8_cosine"),
    )
    return _rank_topk(scored, k, "sq8_cosine", descending=True)


def ivfsq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 3,
    kmeans_iters: int = 8,
    sample_size: int = 2048,
    seed: int = 11,
    centroids: np.ndarray | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-SQ composite ANN — the FAISS IndexIVFScalarQuantizer shape,
    completing the quantized-index family (IVF-Flat, IVFPQ, IVF-SQ):
    trained IVF coarse cells prune the corpus to the probed cells, 8-bit
    scalar-quantized codes score inside them (raw query vs dequantized
    corpus, the asymmetric discipline), rank by cosine.

    vs IVFPQ: 1 byte/DIM instead of m bytes/VECTOR — 8× bigger codes at
    dim=64/m=8 but far finer resolution (per-dim uniform grid vs ksub
    codewords per subspace), the standard pick when recall matters more
    than code size.  The SQ bounds are trained GLOBALLY over the corpus
    (min/max — exact, order-independent, kernel-free aggregates), the
    one trained half here that needs no sample and no seed; the IVF half
    reuses `_kmeans_centroids`.  Everything after the centroid literals
    is pure Catalyst over in-plan relations, so the WHOLE composite
    value-oracles: unrolled-Lloyd CTEs for the cells + the exact SQ8
    train/encode/dequant replay.

    Corpus-side plan: one train pass (dim-keyed min/max), one encode
    pass writing (vec_id, cell, dequantized codes) — at 100 TB stored
    once, bucketed by cell like the IVFPQ codes table — then each query
    batch pays probes ⋈ codes ON CELL, an AQE-skew-handled equi-join
    touching n_probe/n_centroids of the code rows."""
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        if corpus.select(id_col).first() is None:
            return _empty_topk(corpus)
        cent = _kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, kmeans_iters, sample_size, seed
        )

    params = sq8_train(corpus, vec_col)
    c0 = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    # encode pass: cell argmax + SQ8 encode→dequant in ONE projection
    # (production would persist the int codes and dequantize at read —
    # same arithmetic, the fold below is the read-side expression)
    enc = c0.crossJoin(F.broadcast(params)).select(
        "vec_id",
        _argmax_cell(_cell_dots("_cv", cent)).alias("cell"),
        _sq8_dequant(
            _sq8_codes(F.col("_cv"), F.col("lo"), F.col("hi")),
            F.col("lo"),
            F.col("hi"),
        ).alias("_dv"),
    )

    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    qd = q0.select(
        "query_id",
        "_qv",
        F.posexplode(_cell_dots("_qv", cent)).alias("cell", "_d"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell").asc())
    probes = (
        qd.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )

    cand = probes.join(enc, "cell")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_dv")).alias("sq8_cosine"),
    )
    return _rank_topk(scored, k, "sq8_cosine", descending=True)


def _jl_planes(r_dim: int, d: int, seed: int) -> np.ndarray:
    """Random orthonormal (r_dim, d) projection basis: QR of a seeded
    (d, r_dim) Gaussian block, transposed.  Deterministic for a given
    numpy (both the operator and its oracle builder call this same
    function, and the values travel as repr-exact literals, so the SQL
    replay is engine-independent by construction)."""
    g = np.random.RandomState(seed).standard_normal((d, r_dim))
    q, _ = np.linalg.qr(g)
    return np.ascontiguousarray(q.T)


def jl_projection_cols(vec_sql: str, planes: np.ndarray) -> F.Column:
    """In-plan Johnson-Lindenstrauss projection: an ``r_dim``-component
    DOUBLE array where component r is the plane-r dot fold — one parsed
    SQL expression (`_dot_lit_sql` per component, same py4j-cost argument
    as the PQ LUT)."""
    comps = ",".join(_dot_lit_sql(vec_sql, row) for row in planes)
    return F.expr(f"array({comps})")


def jl_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    r_dim: int = 32,
    refine: int = 128,
    seed: int = 7,
    dim: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) ANN: project every
    vector onto an ``r_dim``-dimensional random ORTHONORMAL basis (QR of
    a seeded Gaussian block — raw Gaussian rows carry random mutual
    correlations that measurably distort reduced-space cosines: on the
    isotropic fixture, orthonormalizing lifted min recall@5 from 0.4 to
    0.8 at the same r_dim), rank candidates by reduced-space cosine,
    then re-rank the per-query top-``refine`` survivors by exact
    full-dimension cosine — the dimensionality-reduction prefilter (the
    "shrink the vectors 2-4× before you scan them" lever, complementary
    to PQ's codebook compression and SQ8's per-dim quantization; JL
    needs NO training at all — the basis is data-independent literals,
    so the index is ready before the first row arrives).

    Cosine is invariant to per-vector scaling and projection is linear,
    so reduced-space cosine approximates full-space cosine with the JL
    distortion bound; the exact refine touches only ``refine`` full
    vectors per query.  Both stages are in-plan (query side is a
    DataFrame end to end — corpus-sized query relations never ride the
    driver); the whole path is plane-literal arithmetic and therefore
    fully SQL-replayable, like the LSH family.

    100 TB shape: the projection is a scan-side map (write ``_cp`` once
    as a column, 4× fewer bytes per subsequent scan); the prefilter
    scores r_dim-wide folds instead of d-wide; only the top-``refine``
    equi-join back to full vectors touches original data."""
    first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        return _empty_topk(corpus)
    d = dim or first.d
    planes = _jl_planes(r_dim, d, seed)

    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    cp = c.select("vec_id", jl_projection_cols("_cv", planes).alias("_cp"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    qp = q.select("query_id", jl_projection_cols("_qv", planes).alias("_qp"))

    joined = cp.crossJoin(F.broadcast(qp))
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    red = joined.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qp"), F.col("_cp")).alias("rcos"),
    )
    cand = _rank_topk(red, refine, "rcos", descending=True).select(
        "query_id", "vec_id"
    )
    exact = (
        cand.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    return _rank_topk(exact, k, "cosine", descending=True)


def knn_classify(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised kNN label propagation from a small annotated seed
    — the FineWeb-Edu-style classifier bootstrap: a few thousand human/
    LLM-labeled documents assign labels to the whole corpus by cosine
    kNN vote over embeddings.

    Returns (id, pred_label, vote_r6, n_voters, k_used): top-``k``
    labeled neighbours by 6-dp cosine (ties → lower neighbour id), label
    weights summed in exact integer micro-units, argmax label (weight
    ties → lexicographically smallest label).  Zero-norm vectors on
    either side never vote; a row whose every candidate is filtered
    predicts NULL with k_used 0.

    Plan shape (100 TB): the seed rides the scan as ONE broadcast
    array-of-structs row — score/sort/slice/vote are all per-row array
    expressions, so there is NO pair materialization and NO shuffle at
    any corpus size (contrast `brute_force_topk_df`, whose per-query
    window shuffles |corpus|·|queries| pair rows).  Work per row is the
    inherent |seed| dots + a |seed| sort + k² vote folds.  The seed is
    bounded by the annotation budget, exactly what makes it
    broadcastable."""
    seed_row = labeled.select(
        F.collect_list(
            F.struct(
                F.col(id_col).cast("long").alias("nid"),
                F.col(label_col).cast("string").alias("lab"),
                _dvec(F.col(vec_col)).alias("v"),
            )
        ).alias("_s0")
    ).select(
        F.transform(
            "_s0",
            lambda s: F.struct(
                s["nid"].alias("nid"),
                s["lab"].alias("lab"),
                s["v"].alias("v"),
                F.sqrt(
                    F.aggregate(
                        F.zip_with(s["v"], s["v"], lambda x, y: x * y),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("sn"),
            ),
        ).alias("_seed")
    )
    unl = unlabeled.select(
        F.col(id_col).alias("id"), _dvec(F.col(vec_col)).alias("_v")
    ).withColumn(
        "_qn",
        F.sqrt(
            F.aggregate(
                F.zip_with("_v", "_v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    scored = F.filter(
        F.transform(
            "_seed",
            lambda s: F.struct(
                F.when(
                    (F.col("_qn") > 0) & (s["sn"] > 0),
                    -F.round(
                        F.aggregate(
                            F.zip_with(F.col("_v"), s["v"], lambda x, y: x * y),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        / (F.col("_qn") * s["sn"]),
                        6,
                    ),
                ).alias("negc"),
                s["nid"].alias("nid"),
                s["lab"].alias("lab"),
            ),
        ),
        lambda s: s["negc"].isNotNull(),
    )
    top = unl.crossJoin(F.broadcast(seed_row)).select(
        "id", F.slice(F.array_sort(scored), 1, k).alias("_top")
    )
    wm = lambda t: F.round(-t["negc"] * F.lit(1000000.0), 0).cast("long")
    voted = F.transform(
        F.col("_top"),
        lambda s: F.struct(
            (
                -F.aggregate(
                    F.col("_top"),
                    F.lit(0).cast("long"),
                    lambda acc, t: acc
                    + F.when(t["lab"] == s["lab"], wm(t)).otherwise(
                        F.lit(0).cast("long")
                    ),
                )
            ).alias("negw"),
            s["lab"].alias("lab"),
        ),
    )
    best = F.array_min(voted)
    return top.select(
        "id",
        best["lab"].alias("pred_label"),
        ((-best["negw"]).cast("double") / F.lit(1000000.0)).alias("vote_r6"),
        F.size(
            F.filter(F.col("_top"), lambda t: t["lab"] == best["lab"])
        ).alias("n_voters"),
        F.size("_top").alias("k_used"),
    )


def mmr_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    pool: int = 8,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select k results per query maximizing
    λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — relevance traded against
    redundancy with the already-selected set, the standard RAG /
    retrieval-augmentation de-redundancy pass (near-duplicate passages
    waste context tokens; MMR spends them on coverage).

    Two-stage shape, both stages DataFrame-native end to end:

    1. CANDIDATE POOL — exact cosine top-``pool`` per query
       (`brute_force_topk_df` convention: 6-dp cosine, (score DESC, id)
       ties); swap in `lsh_topk_df`/`ivf_topk_df` for the pool at ANN
       scale — the greedy stage only ever sees queries×pool rows.
    2. GREEDY — ``k−1`` engine-side rounds over the (queries×pool)-
       sized relations only: pairwise candidate cosines are ONE
       self-equi-join on qid (pool² rows per query), each round is a
       tiny join + groupBy(max) + row_number window, and the selected
       set accumulates by union, locally checkpointed each round.  No
       collect at any query count — a
       corpus-sized query relation just makes the small side of every
       round bigger; the corpus itself is touched exactly twice (pool
       scoring + vector fetch).

    Determinism/oracle: λ is the RATIONAL lam_num/lam_den, scores are
    the INTEGER lam_num·rel_m − (lam_den−lam_num)·maxsim_m over
    micro-unit cosines (exact in any engine), argmax ties break to the
    lowest id, the seed pick (empty S) takes maxsim = 0.  The SQL twin
    unrolls the k rounds as CTE stages.

    Returns (query_id, vec_id, sel_rank, rel_r6, maxsim_r6, mmr_m) —
    mmr_m is the exact integer score in lam_den-scaled micro-units.
    """
    if not 0 < lam_num <= lam_den:
        raise ValueError("need 0 < lam_num <= lam_den")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        "_cv",
        cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    pool_df = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= pool)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("cosine") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("rel_m"),
            "_cv",
        )
        .persist()
    )
    a = pool_df.select(
        F.col("query_id"), F.col("vec_id").alias("ai"), F.col("_cv").alias("_av")
    )
    bb = pool_df.select(
        F.col("query_id"), F.col("vec_id").alias("bi"), F.col("_cv").alias("_bv")
    )
    pairs = (
        a.join(bb, "query_id")
        .filter(F.col("ai") != F.col("bi"))
        .select(
            "query_id",
            "ai",
            "bi",
            F.round(
                cosine_expr(F.col("_av"), F.col("_bv")) * F.lit(1000000.0), 0
            )
            .cast("long")
            .alias("sim_m"),
        )
        .persist()
    )
    mu = lam_num
    nu = lam_den - lam_num
    cand = pool_df.select("query_id", "vec_id", "rel_m")
    w1 = W.partitionBy("query_id").orderBy(
        F.col("rel_m").desc(), F.col("vec_id").asc()
    )
    sel = (
        cand.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "vec_id",
            "rel_m",
            F.lit(0).cast("long").alias("maxsim_m"),
            (F.lit(mu) * F.col("rel_m")).alias("mmr_m"),
            F.lit(1).alias("sel_rank"),
        )
    )
    for i in range(2, k + 1):
        picked = sel.select("query_id", F.col("vec_id").alias("bi"))
        ms = (
            pairs.join(picked, ["query_id", "bi"])
            .groupBy("query_id", "ai")
            .agg(F.max("sim_m").alias("maxsim_m"))
            .withColumnRenamed("ai", "vec_id")
        )
        remaining = cand.join(
            sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        )
        stage = (
            remaining.join(ms, ["query_id", "vec_id"], "left")
            .withColumn("maxsim_m", F.coalesce(F.col("maxsim_m"), F.lit(0).cast("long")))
            .withColumn(
                "mmr_m", F.lit(mu) * F.col("rel_m") - F.lit(nu) * F.col("maxsim_m")
            )
        )
        wi = W.partitionBy("query_id").orderBy(
            F.col("mmr_m").desc(), F.col("vec_id").asc()
        )
        pick = (
            stage.withColumn("rk", F.row_number().over(wi))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "vec_id",
                "rel_m",
                "maxsim_m",
                "mmr_m",
                F.lit(i).alias("sel_rank"),
            )
        )
        # round i reads `sel` three times (picked, remaining, the union),
        # so an unbroken lineage plans and runs 3^(k-1) copies of round 1;
        # the checkpoint keeps every round's plan one round deep
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "query_id",
        "vec_id",
        "sel_rank",
        (F.col("rel_m").cast("double") / 1e6).alias("rel_r6"),
        (F.col("maxsim_m").cast("double") / 1e6).alias("maxsim_r6"),
        F.col("mmr_m").cast("long").alias("mmr_m"),
    )


def _micro_cosine(a: F.Column, b: F.Column) -> F.Column:
    """Raw cosine in integer micro-units: round(cos·10⁶) as BIGINT.
    Rounding the UNROUNDED fold (not `cosine_expr`'s 6-dp double, whose
    ·10⁶ re-scale can land a hair under the integer and truncate) is
    what keeps the value bit-identical to the oracle's
    ``round(x * 1000000.0)::BIGINT``."""
    from mistral_ocr_pipeline_spark.operators.similarity import fold_dot

    raw = fold_dot(a, b) / (F.sqrt(fold_dot(a, a)) * F.sqrt(fold_dot(b, b)))
    return F.round(raw * F.lit(1000000.0), 0).cast("long")


# Half-away-from-zero integer mean of micro-unit sums over named cols
# (sm, n) — the IVF-centroid trick, EXACT integer `div` (a double
# division + truncate is off-by-one at representability boundaries).
_INT_MEAN_EXPR = (
    "(CASE WHEN sm < 0 THEN -1 ELSE 1 END) * ((abs(sm) * 2 + n) div (2 * n))"
)


def margin_mine(
    x_df: DataFrame,
    y_df: DataFrame,
    k: int = 4,
    threshold: float = 1.02,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn_pairs: DataFrame | None = None,
) -> DataFrame:
    """Margin-based pair mining between two embedding sets (Artetxe &
    Schwenk 2019, the CCMatrix/LASER bitext-mining scorer): a candidate
    pair's raw cosine is normalized by the mean cosine of each side's
    k-nearest neighbours in the OTHER set,

        margin(x, y) = cos(x, y) / ((a_x + b_y) / 2)

    where a_x = mean cos of x's kNN in Y and b_y = mean cos of y's kNN
    in X — a hubness correction: a vector whose neighbourhood is
    uniformly hot (high a/b) must beat its own background to count,
    which is what makes mined cross-lingual / cross-source pairs
    precise where a raw cosine cutoff drowns in hub vectors.

    Strategy is the published "intersection": a pair is mined iff y is
    x's margin-argmax within x's forward kNN list AND x is y's
    margin-argmax within y's backward kNN list AND margin ≥ threshold.
    Ties break to the lowest id; pairs whose denominator a_x + b_y ≤ 0
    (possible only on adversarially anti-correlated sets) are dropped
    before ranking rather than fed to a sign-flipping division.

    Scale shape: the default kNN stage is the exact cross join (exact
    kNN IS all-pairs) — at corpus scale pass ``knn_pairs``, a
    precomputed (x_id, y_id, cm) candidate relation from any ANN kernel
    in this module (IVF cells / LSH buckets / PQ-ADC top-k); the margin
    math is agnostic to how the kNN lists were produced, exactly as in
    production CCMatrix.  Everything downstream of scoring touches only
    top-k-sized relations: the forward/backward lists are one window
    each (shuffles keyed x_id / y_id), the kNN means collapse map-side,
    and the mined intersection is a join of two ≤|X|+|Y|-row relations.

    Determinism/oracle: cosines are integer micro-units
    (`_micro_cosine`), kNN means are half-away integer means
    (`_INT_MEAN_EXPR`), and the margin itself is a half-away INTEGER
    micro-margin — round(cm·10⁶·2/(a+b)) via the (v·2+d) div (2d)
    trick, never a rounded double division (round(x, 6) on a raw double
    is engine-divergent at exact halves) — so every step has a
    bit-identical SQL twin.

    Output: (x_id, y_id, cosine_r6, margin_r6, knn_x_r6, knn_y_r6).
    """
    from mistral_ocr_pipeline_spark.operators.similarity import fold_dot

    if knn_pairs is not None:
        pairs = knn_pairs.select("x_id", "y_id", "cm")
    else:
        # norms hoisted per SIDE, not recomputed per pair — sqrt(fold)
        # on the same vector is the same IEEE double either way, so the
        # oracle's per-pair sqrt(dot(x,x))*sqrt(dot(y,y)) denominator is
        # bit-identical while the pair loop does ONE fold, not three
        x = x_df.select(
            F.col(id_col).alias("x_id"), _dvec(F.col(vec_col)).alias("_xv")
        ).withColumn("_xn", F.sqrt(fold_dot(F.col("_xv"), F.col("_xv"))))
        y = y_df.select(
            F.col(id_col).alias("y_id"), _dvec(F.col(vec_col)).alias("_yv")
        ).withColumn("_yn", F.sqrt(fold_dot(F.col("_yv"), F.col("_yv"))))
        pairs = x.crossJoin(y).select(
            "x_id",
            "y_id",
            F.round(
                fold_dot(F.col("_xv"), F.col("_yv"))
                / (F.col("_xn") * F.col("_yn"))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("cm"),
        )
    # four consumers read the scored pairs (fwd/bwd lists, both means);
    # without a persist the (possibly cross-join) scoring re-evaluates
    # per consumer — measured 4x the whole kNN stage at sf0.1
    pairs = pairs.persist()

    wf = W.partitionBy("x_id").orderBy(F.col("cm").desc(), F.col("y_id").asc())
    wb = W.partitionBy("y_id").orderBy(F.col("cm").desc(), F.col("x_id").asc())
    fwd = (
        pairs.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    bwd = (
        pairs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    ax = (
        fwd.groupBy("x_id")
        .agg(F.sum("cm").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select("x_id", F.expr(_INT_MEAN_EXPR).cast("long").alias("am"))
    )
    by = (
        bwd.groupBy("y_id")
        .agg(F.sum("cm").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select("y_id", F.expr(_INT_MEAN_EXPR).cast("long").alias("bm"))
    )

    # margin = cm / ((am+bm)/2) in half-away integer micro-units:
    # round(|cm|·2·10⁶ / den) = (|cm|·4·10⁶ + den) div (2·den), sign
    # restored — |cm| ≤ 10⁶ keeps the numerator ≤ 4·10¹², far inside
    # BIGINT.
    _MARGIN_EXPR = (
        "(CASE WHEN cm < 0 THEN -1 ELSE 1 END)"
        " * ((abs(cm) * 4000000 + (am + bm)) div (2 * (am + bm)))"
    )

    def scored(cands: DataFrame) -> DataFrame:
        return (
            cands.join(ax, "x_id")
            .join(by, "y_id")
            .filter(F.col("am") + F.col("bm") > 0)
            .withColumn("margin_m", F.expr(_MARGIN_EXPR).cast("long"))
        )

    wfx = W.partitionBy("x_id").orderBy(
        F.col("margin_m").desc(), F.col("y_id").asc()
    )
    wby = W.partitionBy("y_id").orderBy(
        F.col("margin_m").desc(), F.col("x_id").asc()
    )
    fbest = (
        scored(fwd)
        .withColumn("r2", F.row_number().over(wfx))
        .filter(F.col("r2") == 1)
        .drop("r2")
    )
    bbest = (
        scored(bwd)
        .withColumn("r2", F.row_number().over(wby))
        .filter(F.col("r2") == 1)
        .select("x_id", "y_id")
    )
    thr_m = int(round(float(threshold) * 1e6))
    return (
        fbest.join(bbest, ["x_id", "y_id"])
        .filter(F.col("margin_m") >= F.lit(thr_m))
        .select(
            "x_id",
            "y_id",
            (F.col("cm").cast("double") / 1e6).alias("cosine_r6"),
            (F.col("margin_m").cast("double") / 1e6).alias("margin_r6"),
            (F.col("am").cast("double") / 1e6).alias("knn_x_r6"),
            (F.col("bm").cast("double") / 1e6).alias("knn_y_r6"),
        )
    )


def ivf_index_build(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persisted IVF-Flat cell index: one row per corpus vector —
    (vec_id, cell, cd_m) where cell is the in-plan argmax over frozen
    centroid dots (`_argmax_cell`, = row_number ORDER BY d DESC, c) and
    cd_m the winning raw dot in integer micro-units.  Build ONCE over
    the historical corpus (write via ``TableCatalog``); daily batches
    then join 100 TB of history by CELL without recomputing a single
    historical dot — the FAISS add()/IndexIVF maintenance shape, and
    the symmetric twin of the MinHash/BM25/substring posting indexes.
    cd_m rides along for cell health stats (mean affinity, outlier
    distance) and SemDeDup-style within-cell ordering, both integer
    facts."""
    cent = np.asarray(centroids, dtype=np.float64)
    c0 = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    d = c0.select("vec_id", _cell_dots("_cv", cent).alias("_d"))
    cell = _argmax_cell(F.col("_d"))
    return d.select(
        "vec_id",
        cell.alias("cell"),
        F.round(F.element_at(F.col("_d"), cell + 1) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("cd_m"),
    )


def ivf_index_append(
    index: DataFrame,
    batch: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY the batch against
    the FROZEN trained centroids and union with the persisted index —
    history vectors are never rescanned, so the daily increment costs
    O(|batch|·n_centroids) regardless of index size.  append(build(A),
    B) ≡ build(A ∪ B) exactly, because assignment is per-row against
    frozen centroids (no cross-row state to merge — unlike the capped
    posting-list indexes, nothing here can truncate).  Re-TRAINING the
    centroids is deliberately out of scope: that is a rebuild, and
    mixing the two silently degrades recall (FAISS makes the same
    split: add() vs train())."""
    return index.unionByName(ivf_index_build(batch, centroids, id_col, vec_col))


def ivf_topk_from_index(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF search served by a PERSISTED cell index instead of in-plan
    assignment — the read path of `ivf_index_build`/`ivf_index_append`:
    query probes are the top-``n_probe`` centroid cells (identical to
    `ivf_topk_df`), candidates come from the index's (cell → vec_id)
    postings, and vectors are fetched by an equi-join on vec_id for the
    exact-cosine verify.  Value-identical to `ivf_topk_df` under the
    same centroids (pinned in tests); the corpus scan here reads ONLY
    the id+vector columns of probed candidates' rows, which is the
    point of persisting the assignment."""
    cent = np.asarray(centroids, dtype=np.float64)
    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("_qv")
    )
    qd = q0.select(
        "query_id",
        "_qv",
        F.posexplode(_cell_dots("_qv", cent)).alias("cell", "_d"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell").asc())
    probes = (
        qd.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    )
    cand = probes.join(index.select("cell", "vec_id"), "cell").join(vecs, "vec_id")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    return _rank_topk(scored, k, "cosine", descending=True)


def mrl_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    refine: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Matryoshka prefix-dimension ANN (Kusupati et al. 2022, MRL; the
    truncation trick OpenAI/Nomic embedding APIs expose as
    ``dimensions=``): score the FIRST ``prefix_dim`` components only —
    MRL-trained encoders pack coarse semantics into the prefix — cut to
    ``refine`` candidates per query, then exact full-dimension cosine
    re-ranks.  The zero-math cousin of `jl_refine_topk`: no planes, no
    training, just ``slice``; prefix scoring reads prefix_dim/d of the
    vector bytes, which at 100 TB is the scan-cost lever (store the
    prefix as its own column/file group and the prefilter never touches
    full vectors).  Recall depends on the encoder actually being
    MRL-trained — `ann_mrl_recall` measures it honestly on this
    corpus's generic embeddings (the unfavourable case).

    Same determinism/tie-break contract as the other kernels: 6-dp
    cosines, (score DESC, id) ties, so the whole path has a SQL twin."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("_cv")
    ).withColumn("_cp", F.slice(F.col("_cv"), 1, prefix_dim))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qp", F.slice(F.col("_qv"), 1, prefix_dim))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    red = joined.select(
        "query_id",
        "vec_id",
        "_qv",
        "_cv",
        cosine_expr(F.col("_qp"), F.col("_cp")).alias("_rcos"),
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("_rcos").desc(), F.col("vec_id").asc()
    )
    cand = (
        red.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= refine)
        .select(
            "query_id",
            "vec_id",
            cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    return _rank_topk(cand, k, "cosine", descending=True)


def retrieval_rank_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Ranking-quality metrics per query — the IR eval layer
    (TREC-style) for any of this module's retrieval kernels:
    ``results`` is (query_id, vec_id, rank) from a top-k search,
    ``qrels`` is (query_id, vec_id, grade ≥ 0) graded relevance.

    Per query over the top ``k``:
      * precision@k  = relevant-retrieved / k,
      * MRR          = 1 / rank of the first relevant hit (0 if none),
      * NDCG@k       = DCG/IDCG with DCG = Σ grade/log₂(rank+1) and
                       IDCG from the query's grades sorted descending
                       (capped at k) — the standard graded form.

    Determinism: every DCG/IDCG TERM rounds to integer micro-units
    before the cross-row sum (grade and rank are exact ints and
    ln is correctly rounded, so the per-term double is bit-identical in
    any engine; rounding BEFORE summation makes the total
    order-independent — the repo's micro-unit convention), and the
    final ratios are single double divisions rounded to 6 dp.  Zero
    driver actions; both inputs are top-k/qrel-sized relations, so
    nothing corpus-sized moves."""
    r = results.filter(F.col("rank") <= k).select(
        "query_id", "vec_id", "rank"
    )
    q = qrels.select(
        "query_id", "vec_id", F.col("grade").cast("long").alias("grade")
    )
    j = r.join(q, ["query_id", "vec_id"], "left").withColumn(
        "grade", F.coalesce("grade", F.lit(0))
    )
    term = F.expr(
        "CASE WHEN grade > 0 THEN cast(round(grade / (ln(rank + 1) / ln(2))"
        " * 1000000.0) as bigint) ELSE cast(0 as bigint) END"
    )
    per_q = j.groupBy("query_id").agg(
        F.sum(term).alias("dcg_m"),
        F.sum((F.col("grade") > 0).cast("long")).alias("n_rel_ret"),
        F.min(F.when(F.col("grade") > 0, F.col("rank"))).alias("first_rel"),
    )
    # ideal DCG from the query's own qrels: grades sorted DESC, ideal
    # rank = position in that order, capped at k
    wq = W.partitionBy("query_id").orderBy(
        F.col("grade").desc(), F.col("vec_id").asc()
    )
    ideal = (
        q.filter(F.col("grade") > 0)
        .withColumn("irank", F.row_number().over(wq))
        .filter(F.col("irank") <= k)
        .withColumn(
            "iterm",
            F.expr(
                "cast(round(grade / (ln(irank + 1) / ln(2)) * 1000000.0)"
                " as bigint)"
            ),
        )
        .groupBy("query_id")
        .agg(
            F.sum("iterm").alias("idcg_m"),
            F.count(F.lit(1)).alias("n_rel_total"),
        )
    )
    out = per_q.join(ideal, "query_id", "left")
    return out.select(
        "query_id",
        F.round(F.col("n_rel_ret").cast("double") / F.lit(float(k)), 6).alias(
            "precision_r6"
        ),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.col("first_rel").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("mrr_r6"),
        F.round(
            F.when(
                F.coalesce(F.col("idcg_m"), F.lit(0)) > 0,
                F.col("dcg_m").cast("double") / F.col("idcg_m").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_r6"),
        F.coalesce(F.col("n_rel_total"), F.lit(0)).alias("n_rel_total"),
    )
