"""Similarity search over embedding columns (north-star extension).

Two paths:

  * brute-force cosine top-k — the exact baseline: broadcast the (small)
    query set against the corpus, dot products as codegen'd array
    expressions, per-query top-k via window. Corpus never shuffles; cost is
    one scan × |queries|.
  * LSH-bucketed ANN — the scale path: random-hyperplane sign buckets
    (deterministic, seed-free: plane components are ±1 from md5 parity of
    (plane, dim)), candidates share a bucket, exact rescoring within the
    bucket. At 100 TB the bucket join replaces the corpus×queries blowup;
    recall is tunable via number of planes/tables.

Embeddings in the test corpus are L2-normalized (verified), so cosine ==
dot product; ``cosine`` still normalizes defensively unless told otherwise.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from etl_io_spark.caching import persist_tracked

from etl_io_spark.functions.numeric import round_pz
from etl_io_spark.partitioning import CPU_HEAVY_FLOOR, broadcaster, parallelize


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns — zip_with+aggregate,
    accumulating in double for cross-engine parity."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column, assume_normalized: bool = False) -> Column:
    d = dot(a, b)
    if assume_normalized:
        return d
    return d / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assume_normalized: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    ``queries``: (query_id, embedding). The query side is broadcast — the
    corpus is scanned once regardless of |queries|; ranking is
    deterministic (similarity desc, then corpus id)."""
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    sim = round_pz(
        cosine(F.col(vec_col), F.col("__qvec"), assume_normalized), round_to
    )
    scored = (
        parallelize(corpus.select(id_col, vec_col))
        .crossJoin(q)
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _plane_signs(planes: int, dims: int, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplane components: sign = parity of the first
    hex digit of md5('table:p:d'). Seed-free and reproducible in any
    engine; ``table`` derives independent plane sets for multi-table LSH."""
    return [
        [
            1
            if int(hashlib.md5(f"{table}:{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dims)
        ]
        for p in range(planes)
    ]


def lsh_bucket(vec_col: Column, signs: list[list[int]]) -> Column:
    """Bucket id = bits of sign(v · plane_p) over all planes.

    The ±1 plane arrays are emitted as ONE parsed ``F.expr`` literal per
    plane, not element-wise ``F.lit`` Columns: each ``F.lit`` is a Py4J
    round-trip, and tables × planes × dims of them (e.g. 4·6·64 = 1536)
    cost ~3 s of pure driver-side plan CONSTRUCTION before any job runs.
    One string parse per plane is ~60× fewer JVM calls for the identical
    expression tree.
    """
    bucket: Column = F.lit(0)
    for p, plane in enumerate(signs):
        arr = F.expr(
            "array(" + ",".join(f"{float(s)}D" for s in plane) + ")"
        )
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                arr,
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def lsh_bucket_sql(vec_sql: str, signs: list[list[int]]) -> str:
    """SQL-text twin of :func:`lsh_bucket` (identical expression tree once
    parsed — CAST/zip_with/aggregate/CASE exactly as the Column form):
    callers embedding many buckets in one plan use this to pay a single
    ``F.expr`` parse instead of per-element Py4J Column construction."""
    terms = []
    for p, plane in enumerate(signs):
        arr = "array(" + ",".join(f"{float(s)}D" for s in plane) + ")"
        proj = (
            f"aggregate(zip_with({vec_sql}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** p} ELSE 0 END)")
    return "(0 + " + " + ".join(terms) + ")"


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 6,
    tables: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: a candidate
    shares the query's bucket in ANY of ``tables`` independent plane sets;
    candidates are rescored exactly, then ranked.

    With p planes the corpus splits into 2^p buckets per table → candidate
    cost ~tables·|corpus|/2^p per query; recall ≈ 1-(1-r)^tables for
    single-table recall r. The joins are hash joins on (table, bucket) —
    never a cross join — so the same plan holds when the corpus is 100 TB:
    only bucket-matched pairs materialize.

    All per-table buckets are computed in ONE corpus pass and fanned out
    with a single explode (one row per (doc, table)) — a per-table union
    would rescan the corpus ``tables`` times for identical output."""

    def bucket_fanout(vec_sql: str) -> Column:
        # the whole tables×planes fanout as ONE parsed SQL expression:
        # element-wise Column construction here costs tables·planes·dims
        # Py4J round-trips (~3 s of driver time before any job; see
        # lsh_bucket) — a single string parse builds the identical tree
        structs = ", ".join(
            f"named_struct('__t', {t}, '__bucket', "
            + lsh_bucket_sql(vec_sql, _plane_signs(planes, dims, table=t))
            + ")"
            for t in range(tables)
        )
        return F.explode(F.expr(f"array({structs})"))

    c = (
        parallelize(corpus)
        .select(id_col, vec_col, bucket_fanout(vec_col).alias("__tb"))
        .select(
            id_col,
            vec_col,
            F.col("__tb.__t").alias("__t"),
            F.col("__tb.__bucket").alias("__bucket"),
        )
    )
    q = (
        queries.select(
            query_id_col,
            F.col(vec_col).alias("__qvec"),
            bucket_fanout(vec_col).alias("__tb"),
        )
        .select(
            query_id_col,
            "__qvec",
            F.col("__tb.__t").alias("__t"),
            F.col("__tb.__bucket").alias("__bucket"),
        )
    )
    sim = round_pz(cosine(F.col(vec_col), F.col("__qvec"), True), round_to)
    scored = (
        c.join(q, ["__t", "__bucket"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    )


def neardup_pairs_cosine(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    dims: int = 64,
    exact: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, a < b.

    ``exact=True`` runs the full self-join (oracle-checkable; O(n²) — test
    scales only). Default buckets by hyperplane signs first: near-identical
    vectors almost surely share all sign bits, so the self-join runs per
    bucket — the scale path."""
    emb = parallelize(emb)
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    if exact:
        joined = a.crossJoin(b)
    else:
        signs = _plane_signs(planes, dims)
        a = a.withColumn("__bucket", lsh_bucket(F.col("va"), signs))
        b = b.withColumn("__bucket", lsh_bucket(F.col("vb"), signs))
        joined = a.join(b, "__bucket")
    sim = round_pz(cosine(F.col("va"), F.col("vb"), True), round_to)
    return (
        joined.where(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_assign_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: pick ``n_cells`` deterministic centroids
    (the corpus vectors with the smallest md5-derived id hash — a seed-free
    stand-in for k-means; swap in trained centroids at will) and assign
    every corpus vector to its nearest centroid with one ``max_by``
    aggregation.

    Returns (centroids(cell, embedding), assigned(corpus columns + cell)).
    The assignment plan is corpus × broadcast(centroids) → per-id max_by —
    one map-side-combining shuffle of |corpus| rows; no window, no sort."""
    from etl_io_spark.operators.text import hash60

    # distributed top-K pick (TakeOrderedAndProject — no global sort);
    # the row_number window then orders only the n_cells picked rows.
    picked = (
        corpus.select(id_col, vec_col)
        .orderBy(hash60(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
    )
    w = Window.orderBy(hash60(F.col(id_col).cast("string")), F.col(id_col))
    centroids = picked.select(
        (F.row_number().over(w) - 1).alias("cell"),
        F.col(vec_col).alias("__cvec"),
    )
    scored = parallelize(corpus).crossJoin(centroids).select(
        id_col,
        vec_col,
        "cell",
        dot(F.col(vec_col), F.col("__cvec")).alias("__sim"),
    )
    assigned = scored.groupBy(id_col).agg(
        F.max_by("cell", F.struct(F.col("__sim"), -F.col("cell"))).alias("cell"),
        F.first(vec_col).alias(vec_col),
    )
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per query
    and rescore exactly inside them.

    The scale shape: candidate cost is ~|corpus|·nprobe/n_cells per query
    versus |corpus| for brute force; the corpus-side join is a hash join on
    ``cell`` against a broadcast probe list, so the corpus is scanned once
    and never shuffled on a per-query basis. Recall rises with nprobe
    (nprobe == n_cells degrades gracefully to exact search)."""
    centroids, assigned = ivf_assign_cells(corpus, n_cells, id_col, vec_col)
    qcells = (
        queries.crossJoin(centroids)
        .select(
            query_id_col,
            F.col(vec_col).alias("__qvec"),
            "cell",
            dot(F.col(vec_col), F.col("__cvec")).alias("__sim"),
        )
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__sim").desc(), F.col("cell")
    )
    probes = (
        qcells.withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qvec", "cell")
    )
    sim = round_pz(cosine(F.col(vec_col), F.col("__qvec"), True), round_to)
    scored = (
        assigned.join(broadcaster(queries)(probes), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def neardup_pairs_cosine_blockpair(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    round_to: int = 6,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Exact all-pairs cosine near-dup, fully distributed — no driver
    collect, no corpus broadcast.

    Block-pair decomposition: every vector hashes into one of ``n_blocks``
    blocks; each unordered block pair (i ≤ j) becomes one cogroup task that
    multiplies block i against block j with numpy (Arrow-batched
    ``applyInPandas``). An unordered id pair lands in exactly one task, so
    no dedup pass is needed.

    Scale shape: shuffle volume is (n_blocks+1)·|corpus| rows (each vector
    joins one A-side pair list of size ~n_blocks/2 and one B-side list),
    task memory is 2·|corpus|/n_blocks vectors plus a ``chunk_rows``-bounded
    sims tile — pick n_blocks ≈ |corpus|·dims·8B / (executor-mem/4) so a
    task holds two blocks comfortably; parallelism is n_blocks·(n_blocks+1)/2
    tasks. No driver-side ``toPandas`` + broadcast of the corpus matrix, so
    the plan holds at any corpus size.

    Rounding parity with SQL oracles: raw dots keep an epsilon margin and
    the compared value is ROUNDed (HALF_UP) by Catalyst — numpy's
    half-even ``np.round`` is never applied to it.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    margin = 10.0 ** (-round_to) / 2
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
    v = parallelize(emb.select(id_col, vec_col)).withColumn("__blk", blk)

    pair_rows = [
        (i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j
    ]
    # A side: vector's block is bi of some pair; B side: block is bj.
    # Distinct column names per side — the two join trees share the same
    # source, and renaming up-front sidesteps ambiguous-self-join analysis.
    pairs_a = spark.createDataFrame(pair_rows, "__abi int, __abj int")
    pairs_b = spark.createDataFrame(pair_rows, "__bbi int, __bbj int")
    bc = broadcaster(emb)
    left = (
        v.select(
            F.col(id_col).alias("__ida"),
            F.col(vec_col).alias("__veca"),
            F.col("__blk").alias("__blka"),
        )
        .join(bc(pairs_a), F.col("__blka") == F.col("__abi"))
        .select("__abi", "__abj", "__ida", "__veca")
    )
    right = (
        v.select(
            F.col(id_col).alias("__idb"),
            F.col(vec_col).alias("__vecb"),
            F.col("__blk").alias("__blkb"),
        )
        .join(bc(pairs_b), F.col("__blkb") == F.col("__bbj"))
        .select("__bbi", "__bbj", "__idb", "__vecb")
    )

    def mult(key, la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        if len(la) == 0 or len(rb) == 0:
            return pd.DataFrame({"a": [], "b": [], "raw_sim": []}).astype(
                {"a": "int64", "b": "int64", "raw_sim": "float64"}
            )
        ids_a = la["__ida"].to_numpy()
        ids_b = rb["__idb"].to_numpy()
        mat_b = np.asarray(rb["__vecb"].tolist(), dtype=np.float64)
        out = []
        for lo in range(0, len(la), chunk_rows):
            sub = la.iloc[lo : lo + chunk_rows]
            mat_a = np.asarray(sub["__veca"].tolist(), dtype=np.float64)
            sims = mat_a @ mat_b.T
            ia, ib = np.nonzero(sims >= threshold - margin)
            da, db = ids_a[lo + ia], ids_b[ib]
            if bi == bj:  # both orders present in-tile: keep one
                keep = da < db
                da, db, s = da[keep], db[keep], sims[ia[keep], ib[keep]]
            else:  # cross-block pair appears once; normalize order
                s = sims[ia, ib]
                da, db = np.minimum(da, db), np.maximum(da, db)
            out.append(pd.DataFrame({"a": da, "b": db, "raw_sim": s}))
        return pd.concat(out, ignore_index=True)

    cand = (
        left.groupBy("__abi", "__abj")
        .cogroup(right.groupBy("__bbi", "__bbj"))
        .applyInPandas(mult, "a long, b long, raw_sim double")
    )
    return cand.select(
        "a", "b", round_pz(F.col("raw_sim"), round_to).alias("cosine_sim")
    ).where(F.col("cosine_sim") >= threshold)


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-label embedding centroids in long form: (label, dim, mean, n) —
    the building block of k-means assignment, class prototypes, and
    cluster drift monitoring.

    Element-wise mean across rows cannot ride a single array aggregate
    (rows, not elements, are the aggregation axis), so the vector is
    ``posexplode``-d to (label, dim, value) and averaged with one
    partial-aggregable groupBy — the shuffle carries (labels × dims)
    partials per map partition, independent of row count. Long form is
    kept deliberately: re-assembling arrays needs a second sort/collect
    shuffle and downstream consumers (nearest-centroid joins) want the
    exploded shape anyway."""
    exploded = parallelize(df).select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "__v")
    )
    return exploded.groupBy(label_col, "dim").agg(
        round_pz(F.avg("__v"), round_to).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|x|)/127``,
    ``q_i = round(x_i / scale)`` ∈ [-127, 127].

    The storage/bandwidth lever for ANN at scale — int8 vectors are 4×
    smaller than float32 (8× vs float64), which shrinks the shuffle and
    broadcast volume of every similarity plan; dequantized dot products
    (``dot(qa, qb) · sa · sb``) bound per-element error by scale/2. Pure
    Catalyst higher-order functions (transform/array_max), whole-stage
    codegen, zero shuffles; accumulation in double for cross-engine
    parity."""
    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    return (
        df.withColumn(
            "qscale", F.greatest(absmax, F.lit(1e-12)) / F.lit(127.0)
        )
        .select(
            id_col,
            "qscale",
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") / F.col("qscale")).cast(
                    "int"
                ),
            ).alias("qvec"),
        )
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: integer dot product
    rescaled by the two quantization scales. Same plan shape as
    ``brute_force_topk`` (broadcast queries, corpus never shuffles) but the
    broadcast payload and per-pair arithmetic are int8/int32 — the memory
    shape that survives 100 TB corpora. Recall vs the exact path is tested
    in pytest (error per element ≤ scale/2 keeps top-k stable for
    well-separated neighbors)."""
    qc = quantize_embeddings(corpus, id_col, vec_col)
    qq = quantize_embeddings(queries, query_id_col, vec_col).select(
        F.col(query_id_col),
        F.col("qscale").alias("__q_scale"),
        F.col("qvec").alias("__q_vec"),
    )
    pairs = qc.crossJoin(qq).where(
        F.col(id_col) != F.col(query_id_col)
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("__q_vec"),
            lambda x, y: (x * y).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        (idot.cast("double") * F.col("qscale") * F.col("__q_scale")).alias(
            "score"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    assume_normalized: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    most-similar corpus vectors with a DIFFERENT label — close in
    embedding space yet semantically wrong, the negatives that teach a
    retriever the most.

    Same scale shape as ``brute_force_topk`` (broadcast query batch,
    corpus scanned once, per-query top-k via window); the label
    inequality is a map-side filter before the window, so mismatched
    labels never reach the shuffle."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    sim = round_pz(
        cosine(F.col(vec_col), F.col("__qvec"), assume_normalized), round_to
    )
    scored = (
        parallelize(corpus.select(id_col, vec_col, label_col))
        .crossJoin(q)
        .where(F.col(label_col) != F.col("__qlabel"))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Distributed Gram matrix XᵀX over an embedding column (upper
    triangle as (i, j, v) rows) — the one-pass building block of PCA /
    whitening / covariance drift monitoring.

    Classic map-reduce linear algebra: each partition computes its local
    dims×dims Gram with ONE BLAS matmul (Arrow-batched ``mapInPandas``,
    no per-element Python), then partials merge through a single groupBy
    whose shuffle volume is partitions × dims(dims+1)/2 rows — independent
    of corpus size. At 100 TB the reduce stays kilobytes per partition
    while the map is embarrassingly parallel."""
    import numpy as np
    import pandas as pd

    def run(batches):
        G = None
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            g = X.T @ X
            G = g if G is None else G + g
        if G is None:
            return
        iu, ju = np.triu_indices(G.shape[0])
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "v": G[iu, ju],
            }
        )

    partials = parallelize(df.select(vec_col)).mapInPandas(
        run, "i int, j int, v double"
    )
    return partials.groupBy("i", "j").agg(
        round_pz(F.sum("v"), round_to).alias("v")
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means with deterministic seeding (the k
    lowest-id vectors initialize the centroids) and a fixed iteration
    count; returns the final (id, cluster) assignment.

    Every iteration is two partial-aggregable shuffles over LONG-FORM
    data: (1) squared distances — points posexplode to (id, dim, val),
    broadcast-join the k×dims centroid table, sum (val-mu)² per (id, c);
    (2) new centroids — the arg-min assignment (ranked window, centroid-id
    tie-break) joins back and averages per (c, dim). Shuffle volume is
    rows×k + k×dims — the dims axis never shuffles. Deterministic given
    the data, so a SQL oracle can unroll the same fixed iterations."""
    pts = (
        parallelize(emb.select(id_col, vec_col))
        .select(id_col, F.posexplode(F.col(vec_col)).alias("dim", "val"))
        .withColumn("val", F.col("val").cast("double"))
    )
    cent = (
        emb.where(F.col(id_col) < k)
        .select(
            F.col(id_col).alias("c"),
            F.posexplode(F.col(vec_col)).alias("dim", "mu"),
        )
        .withColumn("mu", F.col("mu").cast("double"))
    )
    assign = None
    bc = broadcaster(emb)
    for _ in range(iterations):
        d2 = (
            pts.join(bc(cent), "dim")
            .groupBy(id_col, "c")
            .agg(
                F.sum(
                    (F.col("val") - F.col("mu"))
                    * (F.col("val") - F.col("mu"))
                ).alias("d2")
            )
        )
        w = Window.partitionBy(id_col).orderBy("d2", "c")
        assign = (
            d2.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(id_col, F.col("c").alias("cluster"))
        )
        cent = (
            pts.join(assign, id_col)
            .groupBy(F.col("cluster").alias("c"), "dim")
            .agg(F.avg("val").alias("mu"))
        )
    return assign


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    planes: int = 6,
    dims: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into cells, compare
    pairs only WITHIN a cell, and keep one representative per group of
    semantic near-duplicates. The paper clusters with k-means; here the
    cells are deterministic hyperplane-sign LSH buckets (2^planes cells,
    md5-seeded ±1 planes — :func:`_plane_signs`), which keeps the whole
    pipeline reproducible in any engine with no trained state. The keep
    rule is the deterministic one-pass variant: a vector is DROPPED iff
    some LOWER-id vector in the same bucket has cosine ≥ ``threshold``
    (no chaining — each decision looks only at raw pairs, so the output
    is order-free and SQL-expressible). Returns one row per vector:
    ``(vec_id, bucket, keep)``.

    Embeddings are assumed L2-normalized (dot == cosine), matching the
    rest of this module's near-dup family.

    Scale design: the only corpus-proportional shuffles are the bucket
    hash-partition and the within-bucket self-join — exactly SemDeDup's
    cost model, where cell granularity bounds the quadratic term. At
    100 TB raise ``planes`` (cells double per plane) until the largest
    cell's pair count fits an executor; the bucketed relation is
    persisted once and backs both join sides plus the final keep
    attribution (callers unpersist after their action — see the module
    persistence contract in graph.py).
    """
    signs = _plane_signs(planes, dims)
    bk = (
        parallelize(emb)
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("__v"),
            lsh_bucket(F.col(vec_col), signs).alias("bucket"),
        )
        .transform(persist_tracked)
    )
    return _semdedup_keep_within_cells(bk, threshold, round_to, gate=emb)


def _semdedup_keep_within_cells(
    bk: DataFrame, threshold: float, round_to: int = 6,
    gate: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup's within-cell keep rule over a pre-persisted
    (vec_id, __v, bucket) relation: a vector is DROPPED iff some lower-id
    vector in the SAME cell has cosine ≥ threshold. One bucket-keyed
    self-join; shared by the LSH-cell (:func:`semdedup`) and
    k-means-cell (:func:`semdedup_kmeans`) variants."""
    # spread the probe side (r12-opt): with AQE re-sizing cached-plan
    # output partitioning (session.py), the small bk cache materializes
    # in ~1 byte-sized partition — but the pair pass below is QUADRATIC
    # per byte (one interpreted dot per candidate pair), so it must not
    # inherit the cache's byte-sized layout. Gated on the ORIGINAL
    # embedding scan's leaf bytes: the cache's own leaf is an
    # InMemoryRelation whose estimate is the inflated cached-plan size.
    a = parallelize(
        bk.select(
            F.col("vec_id").alias("__aid"),
            F.col("__v").alias("__va"),
            "bucket",
        ),
        gate=gate,
        floor=CPU_HEAVY_FLOOR,
    )
    b = bk.select(
        F.col("vec_id").alias("__bid"), F.col("__v").alias("__vb"), "bucket"
    )
    dominated = (
        a.join(b, "bucket")
        .where(F.col("__bid") < F.col("__aid"))
        .where(
            F.round(cosine(F.col("__va"), F.col("__vb"), True), round_to)
            >= F.lit(threshold)
        )
        .select(F.col("__aid").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return bk.join(dominated, "vec_id", "left").select(
        "vec_id", "bucket", F.col("__dropped").isNull().alias("keep")
    )


def semdedup_kmeans(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    k: int = 8,
    iterations: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup with TRAINED cells — the paper's actual clustering
    (Abbas et al. 2023 §3 run k-means over the embeddings, then dedup
    within each cluster). Cells come from :func:`kmeans_assign`
    (deterministically seeded, fixed-iteration Lloyd's), so unlike the
    md5-hyperplane cells of :func:`semdedup` they ADAPT to the corpus:
    dense regions — where semantic duplicates concentrate — get their
    own cells, which raises within-cell recall at equal cell count. The
    keep rule and its one self-join cost model are identical
    (:func:`_semdedup_keep_within_cells`); quality is graded by the
    recall-vs-brute-force-cosine pytest rather than a SQL oracle (the
    fixed-iteration k-means is deterministic but an unrolled SQL replica
    grades nothing the kmeans_assign oracle doesn't already).

    At 100 TB: train the centroids on a SAMPLE (k-means is
    sample-stable), broadcast them, and assignment is one map — the
    within-cell join stays the only corpus-proportional term.
    """
    assign = kmeans_assign(
        emb, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    bk = (
        parallelize(emb)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
        .join(
            assign.select(
                F.col(id_col).alias("vec_id"), F.col("cluster").alias("bucket")
            ),
            "vec_id",
        )
        .transform(persist_tracked)
    )
    return _semdedup_keep_within_cells(bk, threshold, round_to, gate=emb)


def power_iteration_top_pc(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    via fixed-count power iteration — the dominant-variance axis used for
    embedding diagnostics (anisotropy checks, whitening, ABTT-style
    common-direction removal). Returns ``(dim, loading)`` with loadings
    normalized so the largest-|.| component is exactly 1 (sign fixed by
    that component — the usual eigenvector sign convention, and
    engine-deterministic).

    Plan (fused, round-5): the Gram accumulates MAP-SIDE — a double
    posexplode emits each row's rank-1 outer product (dims² terms per
    row) straight into a partial aggregation, so the only
    corpus-proportional work never shuffles (the old self-join moved
    2·N·dims rows through an __id exchange); the shuffled volume is
    dims²·partitions partials. The dims²-row Gram is then repartitioned
    ONCE on d1 and persisted: every matvec round is a broadcast of the
    dims-row vector + a d1-keyed aggregation that reuses that
    partitioning — ZERO per-round shuffle exchanges (the HITS/LPA
    fusion treatment). At corpus scale swap in the Arrow-BLAS
    ``distributed_gram`` and keep the same iteration tail. v₀ is
    all-ones, so iteration 1 folds into a row sum.
    """
    outer = (
        parallelize(emb)
        .select(
            F.posexplode(F.col(vec_col)).alias("d1", "__x1"),
            F.col(vec_col).alias("__v"),
        )
        .select(
            "d1",
            F.col("__x1").cast("double").alias("x1"),
            F.posexplode(F.col("__v")).alias("d2", "__x2"),
        )
    )
    gram = persist_tracked(
        outer.groupBy("d1", "d2")
        .agg(F.sum(F.col("x1") * F.col("__x2").cast("double")).alias("g"))
        .repartition(F.col("d1"))
    )
    # v0 = 1 for every dim -> first matvec is a plain row-sum
    v = gram.groupBy("d1").agg(F.sum("g").alias("v")).select(
        F.col("d1").alias("dim"), "v"
    )
    bc = broadcaster(emb)
    for _ in range(iterations - 1):
        v = (
            gram.join(bc(v), gram["d2"] == v["dim"])
            .groupBy("d1")
            .agg(F.sum(F.col("g") * F.col("v")).alias("v"))
            .select(F.col("d1").alias("dim"), "v")
        )
    # normalize by the max-|loading| component (smallest dim on ties)
    mx = v.agg(
        F.max_by(
            "v", F.struct(F.abs("v").alias("a"), (-F.col("dim")).alias("nd"))
        ).alias("__mx")
    )
    from etl_io_spark.functions.numeric import round_pz

    return v.crossJoin(mx).select(
        "dim", round_pz(F.col("v") / F.col("__mx"), round_to).alias("loading")
    )
