"""IVF approximate nearest-neighbor search over embedding columns.

The scale path for similarity search (brute-force cosine in
operators/similarity.py is the exact baseline): cluster the corpus with
MLlib KMeans into ``n_cells`` inverted lists, then search only the
``n_probe`` cells closest to each query — an O(n/k * probe) scan instead
of O(n).

Spark plan: centroids are a tiny broadcast; cell assignment is one
``model.transform`` pass (stored alongside the corpus — at 100 TB this is
a write-once partition column enabling partition pruning per query); the
probe join is an equi-join on cell_id so only matching buckets shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.operators.similarity import cosine


def build_index(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 7,
):
    """KMeans the corpus into cells.  Returns (indexed_df, kmeans_model):
    indexed_df = df + ``cell_id``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__vec", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__vec", predictionCol="cell_id")
    model = km.fit(feat)
    indexed = model.transform(feat).drop("__vec")
    return indexed, model


def search(
    indexed: DataFrame,
    model,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k cosine neighbors per query row, probing the n_probe nearest
    cells.  queries: (query_id, embedding).  Output (query_id, doc_id,
    cosine_sim, rank)."""
    import numpy as np

    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    spark = indexed.sparkSession
    centers_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell_id int, center array<double>",
    )
    # rank cells per query by distance to centroid, keep n_probe
    qc = queries.crossJoin(F.broadcast(centers_df))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col(vec_col), F.col("center"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    ranked = qc.withColumn("__d", dist).withColumn(
        "__cr",
        F.row_number().over(Window.partitionBy(query_id_col).orderBy("__d")),
    )
    probes = ranked.filter(F.col("__cr") <= n_probe).select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"), "cell_id"
    )
    # equi-join on cell_id: only probed buckets scan
    cand = probes.join(indexed, "cell_id")
    sim = cand.withColumn("cosine_sim", cosine(F.col("__qvec"), F.col(vec_col)))
    topk = sim.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.desc("cosine_sim"), F.col(id_col)
            )
        ),
    ).filter(F.col("rank") <= k)
    return topk.select(query_id_col, id_col, "cosine_sim", "rank")


# --------------------------------------------------------------------------
# Portable IVF: every floating-point decision is rounded, so the full index
# build (seeding + one Lloyd refinement) and the probed search replay
# exactly in ANSI SQL — the oracle-checkable twin of the KMeans path above.
# --------------------------------------------------------------------------


def _rnd6(col: Column) -> Column:
    # +1e-9 epsilon keeps exact decimal half-boundaries off the rounding
    # lattice (the engines round halves in opposite directions)
    return F.round(col + F.lit(1.0e-9), 6)


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(df: DataFrame, centers: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Nearest-centroid assignment on the ROUNDED squared distance, ties to
    the smaller cell_id — a total order both engines agree on."""
    c = df.crossJoin(F.broadcast(centers))
    d = c.withColumn("__d", _rnd6(_sq_dist(F.col(vec_col), F.col("center"))))
    w = Window.partitionBy(id_col).orderBy("__d", "cell_id")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, "cell_id")
    )


def build_index_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    seeds: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF index: seed centroids are the embeddings of the
    ``n_cells`` smallest ids (a constant predicate — no global sort), then
    ONE Lloyd refinement whose per-dimension means are rounded to 6 dp.

    Returns (indexed_df with ``cell_id``, centers (cell_id, center)).  The
    refinement is pure DataFrame algebra (posexplode → groupBy(cell,pos)
    avg → re-assemble), so at 100 TB it is one extra shuffle of n·dim
    scalar rows; the centers frame stays tiny and broadcasts everywhere.

    ``seeds``: optional (cell_id int, center array) frame overriding the
    default ``id < n_cells`` seed rule — needed when ``df`` is a subset
    whose ids don't start at 0 (see ``seed_smallest_ids``).
    """
    if seeds is None:
        seeds = df.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).cast("int").alias("cell_id"), F.col(vec_col).alias("center")
        )
    # NO skew.spread here, deliberately (r14 TRIED AND REJECTED): a
    # spread before the assignment cross joins looked like a win in one
    # cross-session read (3.2→2.8 s on ivfpq_recall) but a paired
    # same-session A/B (4 alternating rounds) showed no advantage
    # (best 3.88 spread vs 3.78 without), and the lazy IVF consumers
    # (semantic_dedup, diversity_sample, ANN bitext, stored search)
    # read 0.1-0.3 s WORSE with it — the fixed REPARTITION_BY_NUM
    # defeats AQE's coalescing of their end-to-end actions.
    asg1 = _assign(df, seeds, vec_col, id_col)
    elems = asg1.select("cell_id", F.posexplode(vec_col).alias("pos", "v"))
    cent = elems.groupBy("cell_id", "pos").agg(_rnd6(F.avg("v")).alias("cv"))
    centers = (
        cent.groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("cell_id", F.transform("pc", lambda s: s["cv"]).alias("center"))
        .cache()  # n_cells rows, referenced by the final assignment AND every search
    )
    return _assign(df, centers, vec_col, id_col), centers


def seed_smallest_ids(
    df: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Seed frame for ``build_index_portable`` over an arbitrary-id
    subset: the ``n_cells`` smallest ids, cell_id = rank in id order.
    ``orderBy().limit()`` plans as TakeOrderedAndProject (per-partition
    top-n + driver merge — no global sort shuffle); the window below
    runs on the already-limited ``n_cells`` rows."""
    small = df.select(id_col, F.col(vec_col).alias("center")).orderBy(id_col).limit(n_cells)
    w = Window.orderBy(id_col)
    return small.select(
        (F.row_number().over(w) - 1).cast("int").alias("cell_id"), "center"
    )


def search_portable(
    indexed: DataFrame,
    centers: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probed top-k cosine search against the portable index: rank cells by
    rounded distance-to-centroid (ties to smaller cell_id), scan the
    ``n_probe`` nearest inverted lists, rank candidates on the rounded
    cosine (ties to smaller id).  Output (query_id, id, cosine_sim, rank).
    """
    qc = queries.crossJoin(F.broadcast(centers))
    ranked = qc.withColumn("__d", _rnd6(_sq_dist(F.col(vec_col), F.col("center")))).withColumn(
        "__cr",
        F.row_number().over(Window.partitionBy(query_id_col).orderBy("__d", "cell_id")),
    )
    probes = ranked.filter(F.col("__cr") <= n_probe).select(
        query_id_col, F.col(vec_col).alias("__qvec"), "cell_id"
    )
    # probes is n_queries x n_probe rows — broadcast it so the corpus-side
    # inverted lists never shuffle (the join the whole IVF layout exists for)
    cand = F.broadcast(probes).join(indexed, "cell_id")
    sim = cand.withColumn("cosine_sim", _rnd6(cosine(F.col("__qvec"), F.col(vec_col))))
    topk = sim.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
        ),
    ).filter(F.col("rank") <= k)
    return topk.select(query_id_col, id_col, "cosine_sim", "rank")


def diversity_sample(
    df: DataFrame,
    budget: int,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "farthest",
) -> DataFrame:
    """Cluster-balanced DIVERSITY selection over an embedding column —
    the prototypicality-pruning step of modern data-curation pipelines
    (Sorscher et al. 2022 "Beyond neural scaling laws": rank examples by
    distance to their cluster centroid and keep the LEAST prototypical;
    SemDeDup/D4 use the same cluster-then-rank layout): assign every
    vector to a portable-IVF cell, give each cell a largest-remainder
    proportional quota of ``budget``, and keep the per-cell top-quota by
    centroid distance (``keep='farthest'`` = diversity pruning;
    ``'closest'`` = most-representative coresets), ties to smaller id.

    Everything is exact DataFrame algebra on the ROUNDED distance
    lattice, so the full selection value-hashes against a DuckDB
    replay.  Scale shape: the centers and the per-cell quota frame are
    n_cells rows (broadcast); ranking is one window partitioned by
    cell_id — the corpus shuffles once, on a key with bounded fanout.
    Output: (vec_id, cell_id, dist, cell_rank) for the kept rows."""
    indexed, centers = build_index_portable(df, vec_col, id_col, n_cells)
    dist = _rnd6(_sq_dist(F.col(vec_col), F.col("center")))
    # persist the NARROW scored rows (id, cell, dist — no embedding
    # arrays, which are ~10x the cache cost): scored feeds the quota
    # chain AND the final ranking, and without the boundary the whole
    # Lloyd build + assignment executed three times per action (r13 plan
    # audit: 32 parquet scans, zero ReusedExchange → one pipeline).
    from kats_spark import cache

    scored = cache.register(
        indexed.join(F.broadcast(centers), "cell_id")
        .withColumn("dist", dist)
        .select(id_col, "cell_id", "dist")
        .persist()
    )
    counts = scored.groupBy("cell_id").agg(F.count("*").alias("__nc"))
    # largest-remainder apportionment: floor(budget*nc/N) each, then +1
    # to the cells with the largest remainders (ties to smaller cell_id)
    # until the budget is filled — deterministic, sums exactly to
    # min(budget, N).  The cells frame is tiny; the single-partition
    # windows below run over n_cells rows.  N comes from a window sum
    # over the same tiny frame (one consumer of ``counts`` instead of
    # the old separate agg + crossJoin — identical value).
    alloc = counts.withColumn(
        "__n", F.sum("__nc").over(Window.partitionBy(F.lit(1)))
    ).withColumn(
        "__exact", F.col("__nc") * F.lit(float(budget)) / F.col("__n")
    ).withColumn(
        "__base",
        F.least(F.floor("__exact").cast("long"), F.col("__nc")),
    )
    w_all = Window.partitionBy(F.lit(1))
    w_rem = Window.partitionBy(F.lit(1)).orderBy(
        F.desc(F.col("__exact") - F.col("__base")), F.asc("cell_id")
    )
    alloc = alloc.withColumn("__left", F.lit(budget) - F.sum("__base").over(w_all))
    alloc = alloc.withColumn("__rk", F.row_number().over(w_rem)).withColumn(
        "quota",
        F.least(
            F.col("__base")
            + F.when(F.col("__rk") <= F.col("__left"), F.lit(1)).otherwise(F.lit(0)),
            F.col("__nc"),
        ),
    )
    order = (
        [F.desc("dist"), F.asc(id_col)]
        if keep == "farthest"
        else [F.asc("dist"), F.asc(id_col)]
    )
    ranked = scored.join(
        F.broadcast(alloc.select("cell_id", "quota")), "cell_id"
    ).withColumn(
        "cell_rank",
        F.row_number().over(Window.partitionBy("cell_id").orderBy(*order)),
    )
    return ranked.filter(F.col("cell_rank") <= F.col("quota")).select(
        id_col, "cell_id", "dist", F.col("cell_rank").cast("int").alias("cell_rank")
    )
