"""Product quantization for embedding columns (Jégou/Douze/Schmid 2011,
public method) — the memory-side scale path for similarity search.

IVF (operators/ivf.py) bounds how much of the corpus a query SCANS;
PQ bounds what each scanned row COSTS: vectors compress to ``m`` sub-
space code indices (m bytes at ks<=256 — 32x smaller than 64 float64
dims), and query distances come from an m x ks lookup table (ADC:
asymmetric distance computation) instead of a dot product.

Spark shape:
- codebooks train DRIVER-SIDE on a bounded deterministic sample
  (hash-ranked limit — the only collect), then travel in UDF closures;
- encoding is one ``mapInPandas`` pass (vectorized argmin per subspace);
- search broadcasts the (small) query set, builds each query's LUT once
  per task, and scores every Arrow batch of codes with numpy gathers —
  no shuffle of the corpus beyond the optional IVF cell probe join.

Iterative k-means -> no SQL oracle; correctness is pinned by recall
measured against the exact brute-force ranking (never assumed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _lloyd(X: np.ndarray, ks: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded numpy k-means for one subspace.  Empty clusters re-seed to
    the point farthest from its centroid.

    The per-cluster update groups rows by ONE stable argsort per
    iteration instead of ks boolean-mask scans (r14: the mask loop was
    0.7 s of the ivfpq_recall bench row).  Values are bit-identical:
    a stable sort preserves each cluster's original row order, so the
    sliced copy fed to ``mean(0)`` is the same contiguous sequence the
    masked copy was (same pairwise summation), and the farthest-point
    re-seed is a loop constant (``d`` is fixed once per iteration)."""
    C = _lloyd_seed(X, ks, rng)
    return _lloyd_iter(X, C, ks, iters)


def _lloyd_seed(X: np.ndarray, ks: int, rng: np.random.Generator) -> np.ndarray:
    """Seed draw split out of ``_lloyd`` so the shared rng stream can be
    consumed SEQUENTIALLY across subspaces while the (rng-free)
    iterations run in parallel threads (see train_codebooks)."""
    n = len(X)
    idx = rng.choice(n, size=min(ks, n), replace=False)
    C = X[idx].copy()
    if len(C) < ks:  # degenerate tiny sample: pad with jitter
        C = np.vstack([C, C[rng.integers(0, len(C), ks - len(C))] + 1e-6])
    return C


def _lloyd_iter(X: np.ndarray, C: np.ndarray, ks: int, iters: int) -> np.ndarray:
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        order = np.argsort(a, kind="stable")
        bounds = np.searchsorted(a[order], np.arange(ks + 1))
        far = None
        for c in range(ks):
            s, e = bounds[c], bounds[c + 1]
            if e > s:
                C[c] = X[order[s:e]].mean(0)
            else:
                if far is None:
                    far = X[d.min(1).argmax()].copy()
                C[c] = far
    return C


def train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ks: int = 16,
    sample_rows: int = 2048,
    iters: int = 15,
    seed: int = 7,
) -> np.ndarray:
    """(m, ks, d/m) PQ codebooks from a bounded hash-ranked sample —
    deterministic, and the only driver-side data regardless of corpus
    size."""
    pdf = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_rows)
        .toPandas()
    )
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    # seeds draw SEQUENTIALLY (the exact rng stream of the serial loop),
    # then the rng-free Lloyd iterations of the m independent subspaces
    # run in parallel threads — numpy ufuncs release the GIL, so the
    # 16-subspace training overlaps on the driver's cores (guide §2.6
    # applied to driver work; byte-identical per subspace by
    # construction, pinned by tests/test_pq.py)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    subs = [X[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    seeds = [_lloyd_seed(s, ks, rng) for s in subs]
    # 4 workers measured best (0.46 s vs 0.88 serial vs 0.68 at 8 —
    # beyond 4 the GIL-held python slice of each small-array op thrashes)
    with ThreadPoolExecutor(max_workers=min(4, m)) as pool:
        lloyd = inheritable_thread_target(df.sparkSession)(
            lambda sc: _lloyd_iter(sc[0], sc[1], ks, iters)
        )
        out = list(pool.map(lloyd, zip(subs, seeds)))
    return np.stack(out)


def encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """One mapInPandas pass: vector -> m nearest-sub-centroid codes.
    Output (id[, keep_cols...], codes array<int>)."""
    m, ks, dsub = codebooks.shape
    cb = codebooks.copy()
    keep = list(keep_cols)

    def kernel(batches):
        for pdf in batches:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                dist = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = dist.argmin(1)
            out = {id_col: pdf[id_col], "codes": list(codes.tolist())}
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"{id_col} bigint, codes array<int>"
    for c in keep:
        schema += f", {c} int"
    return df.select(id_col, vec_col, *keep).mapInPandas(kernel, schema)


def adc_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k per query over the encoded corpus: each task builds the
    per-query (m, ks) lookup tables once, scores every Arrow batch with
    numpy gathers, keeps a per-batch top-k, and a final window re-ranks
    the union — exact over the QUANTIZED distances.  ``queries`` is the
    (small) literal query set: (query_id, vector) pairs.
    Output (query_id, id, adc_dist, rank)."""
    m, ks, dsub = codebooks.shape
    cb = codebooks.copy()
    Q = [(int(qid), np.asarray(v, dtype=np.float64)) for qid, v in queries]

    def kernel(batches):
        luts = []
        for qid, qv in Q:
            lut = np.empty((m, ks))
            for j in range(m):
                qs = qv[j * dsub : (j + 1) * dsub]
                lut[j] = ((cb[j] - qs[None, :]) ** 2).sum(-1)
            luts.append((qid, lut))
        rows_q, rows_i, rows_d = [], [], []
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            ar = np.arange(m)
            for qid, lut in luts:
                d = lut[ar[None, :], codes].sum(1)
                kk = min(k, len(d))
                top = np.argpartition(d, kk - 1)[:kk]
                rows_q.extend([qid] * kk)
                rows_i.extend(ids[top].tolist())
                rows_d.extend(np.round(d[top] + 1e-9, 6).tolist())
        yield pd.DataFrame({"query_id": rows_q, id_col: rows_i, "adc_dist": rows_d})

    cand = encoded.select(id_col, "codes").mapInPandas(
        kernel, schema=f"query_id bigint, {id_col} bigint, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def adc_topk_reranked(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    vectors: DataFrame,
    k: int = 5,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC candidate generation + EXACT re-rank (the standard IVF-PQ
    refinement): take the rerank_factor * k best quantized distances per
    query, join their ORIGINAL vectors (touches only those rows), and
    rank on the exact Euclidean distance.  Recovers the recall the lossy
    codes give up while still scanning codes, not floats.
    Output (query_id, id, dist, rank)."""
    cand = adc_topk(encoded, codebooks, queries, k=rerank_factor * k, id_col=id_col)
    qdf = encoded.sparkSession.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "query_id bigint, __qv array<double>",
    )
    exact = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "dist",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            F.col("__qv"),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                + 1e-9,
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "dist", "rank")
    )


# --------------------------------------------------------------------------
# IVF-PQ composition (IVFADC, Jégou/Douze/Schmid 2011 §IV): coarse-quantize
# into inverted lists, PQ-encode the RESIDUAL (x - centroid), then search by
# probing a few cells and ADC-scanning only their codes.  This is the
# 100 TB ANN layout: cell_id is a write-once partition column (partition
# pruning per query), codes are ~32x smaller than the float vectors, and
# the only corpus-side work per query is a pruned scan of code bytes.
# --------------------------------------------------------------------------


def ivfpq_build(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 8,
    ks: int = 16,
    sample_rows: int = 2048,
    iters: int = 15,
    seed: int = 7,
    coarse: tuple[DataFrame, DataFrame] | None = None,
):
    """Build the composed index.  Returns (encoded, centers, codebooks):

    - ``encoded``: (id, cell_id, codes) — the corpus reduced to m small
      ints per row, carrying its inverted-list key;
    - ``centers``: (n_cells, d) numpy coarse centroids;
    - ``codebooks``: (m, ks, d/m) numpy residual codebooks.

    Plan shape: the coarse layer is the deterministic portable IVF
    (seeded + one rounded Lloyd step — operators/ivf.py), residuals are
    one broadcast join + ``zip_with`` projection (no shuffle), codebooks
    train driver-side on a bounded hash-ranked residual sample (the only
    collect at any corpus size), and encoding is one mapInPandas pass.
    Encoding residuals instead of raw vectors is what makes one shared
    codebook work across cells (the PQ layer only has to cover the
    within-cell spread, not the whole space — the published IVFADC
    observation)."""
    from kats_spark.operators.ivf import build_index_portable

    if coarse is not None:
        # reuse an existing coarse index (e.g. a query that also audits
        # the plain-IVF baseline) instead of re-running the Lloyd pass
        indexed, centers_df = coarse
    else:
        indexed, centers_df = build_index_portable(
            df.select(id_col, vec_col), vec_col=vec_col, id_col=id_col, n_cells=n_cells
        )
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel, inheritable_thread_target

    from kats_spark import cache

    # persist the residual frame: the codebook sample scan AND the
    # encode pass both consume it — without the boundary the coarse
    # assignment (argmin over n_cells dot products per vector) executes
    # twice per build (r13; at 100 TB the same boundary is an
    # intermediate write, the _corpus_stages pattern)
    resid = cache.register(
        indexed.join(F.broadcast(centers_df), "cell_id")
        .select(
            id_col,
            "cell_id",
            F.zip_with(F.col(vec_col), F.col("center"), lambda a, b: a - b).alias(
                "__res"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the codebook training scan and the tiny centers collect are
    # independent jobs — overlap them (guide §2.6); inheritable_thread_target
    # keeps the workers' jobs in the caller's job group
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cb = pool.submit(
            inheritable_thread_target(df.sparkSession)(train_codebooks),
            resid,
            "__res",
            id_col,
            m,
            ks,
            sample_rows,
            iters,
            seed,
        )
        f_centers = pool.submit(
            inheritable_thread_target(df.sparkSession)(
                lambda: sorted(centers_df.collect(), key=lambda r: r.cell_id)
            )
        )
        centers_rows = f_centers.result()
        cb = f_cb.result()
    # compact the encode input (the fit_input pattern, byte-estimate
    # gated — zero jobs): resid inherits the assignment pipeline's
    # shuffle layout (32 partitions of ~60 rows at bench scale), so the
    # one-pass vectorized encode paid 32 Arrow task round-trips for
    # work one numpy batch does in ms.  Scale-adaptive: ~8 MB of
    # residuals per task, capped at defaultParallelism — a corpus-sized
    # resid keeps every core.
    from kats_spark.operators.skew import _UNKNOWN_STATS, plan_size_bytes

    est = plan_size_bytes(resid)
    if est < _UNKNOWN_STATS:
        sc = resid.sparkSession.sparkContext
        target = max(1, min(sc.defaultParallelism, est // (8 << 20) + 1))
        resid = resid.coalesce(target)
    enc = encode(resid, cb, vec_col="__res", id_col=id_col, keep_cols=("cell_id",))
    centers = np.vstack(
        [np.asarray(r.center, dtype=np.float64) for r in centers_rows]
    )
    return enc, centers, cb


def ivfpq_search(
    encoded: DataFrame,
    centers: np.ndarray,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probed ADC search: per query, rank coarse cells by
    ||q - centroid||² driver-side (n_cells scalars), keep ``n_probe``;
    build one (m, ks) residual LUT per (query, probed cell) —
    lut[j][c] = ||(q - centroid)_j - codebook[j][c]||², so the summed
    lookups equal ||q - (centroid + decoded residual)||² exactly over
    the quantized representation; then ONE mapInPandas pass over the
    probed cells' code rows scores every Arrow batch with numpy gathers.

    The corpus-side plan is filter(cell_id ∈ probed) → mapInPandas →
    small top-k window over ≤ |queries|·n_probe·k candidate rows: no
    corpus shuffle, and at 100 TB the filter is partition pruning.
    Output (query_id, id, adc_dist, rank)."""
    m, ks, dsub = codebooks.shape
    cb = codebooks.copy()
    luts: dict[int, list[tuple[int, np.ndarray]]] = {}
    probed_cells: set[int] = set()
    for qid, v in queries:
        qv = np.asarray(v, dtype=np.float64)
        cd = ((centers - qv[None, :]) ** 2).sum(-1)
        order = np.lexsort((np.arange(len(cd)), np.round(cd + 1e-9, 6)))
        for cell in order[:n_probe]:
            cell = int(cell)
            probed_cells.add(cell)
            r = qv - centers[cell]
            lut = np.empty((m, ks))
            for j in range(m):
                lut[j] = ((cb[j] - r[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(-1)
            luts.setdefault(cell, []).append((int(qid), lut))

    def kernel(batches):
        ar = np.arange(m)
        for pdf in batches:
            rows_q, rows_i, rows_d = [], [], []
            for cell, grp in pdf.groupby("cell_id"):
                pairs = luts.get(int(cell))
                if not pairs:
                    continue
                codes = np.array(grp["codes"].tolist(), dtype=np.int64)
                ids = grp[id_col].to_numpy()
                for qid, lut in pairs:
                    d = lut[ar[None, :], codes].sum(1)
                    kk = min(k, len(d))
                    top = np.argpartition(d, kk - 1)[:kk]
                    rows_q.extend([qid] * kk)
                    rows_i.extend(ids[top].tolist())
                    rows_d.extend(np.round(d[top] + 1e-9, 6).tolist())
            yield pd.DataFrame(
                {"query_id": rows_q, id_col: rows_i, "adc_dist": rows_d}
            )

    pruned = encoded.filter(
        F.col("cell_id").isin([int(c) for c in sorted(probed_cells)])
    ).select(id_col, "cell_id", "codes")
    cand = pruned.mapInPandas(
        kernel, schema=f"query_id bigint, {id_col} bigint, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def ivfpq_search_reranked(
    encoded: DataFrame,
    centers: np.ndarray,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    vectors: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC + exact re-rank: ADC proposes rerank_factor·k candidates
    per query from the probed cells, then their ORIGINAL vectors (only
    those rows — an id equi-join) are scored exactly.  Recovers the
    recall the residual codes give up at the cost of touching
    |queries|·rerank_factor·k float vectors.  Output (query_id, id,
    dist, rank)."""
    cand = ivfpq_search(
        encoded,
        centers,
        codebooks,
        queries,
        k=rerank_factor * k,
        n_probe=n_probe,
        id_col=id_col,
    )
    qdf = encoded.sparkSession.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "query_id bigint, __qv array<double>",
    )
    exact = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "dist",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            F.col("__qv"),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                + 1e-9,
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "dist", "rank")
    )


# --------------------------------------------------------------------------
# Portable PQ: the oracle-checkable twin of the numpy-codebook path above,
# built on the same rounded-arithmetic discipline as ivf.build_index_portable
# — deterministic seeds, ONE Lloyd step per subspace, every distance and
# per-dimension mean rounded to 6 dp with fixed tie-breaks, so codebook
# training, encoding, AND the ADC scan replay exactly in ANSI SQL.
# --------------------------------------------------------------------------


def _subspaces(df: DataFrame, vec_col: str, id_col: str, m: int, dim: int) -> DataFrame:
    """(id, j, s): subvector j of each vector — one posexplode, no shuffle."""
    d = dim // m
    slices = [F.slice(F.col(vec_col), j * d + 1, d) for j in range(m)]
    return df.select(
        F.col(id_col), F.posexplode(F.array(*slices)).alias("j", "s")
    )


def build_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ks: int = 8,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic PQ codebooks + codes.  Seeds for every subspace are
    the subvectors of the ``ks`` smallest ids (constant predicate, no
    sort); one Lloyd refinement with per-dimension means rounded to 6 dp;
    assignment on the rounded squared distance, ties to the smaller code.
    Returns (codes (id, j, code), centers (j, code, center)).

    Scale shape: the subspace explode is m narrow rows per vector with no
    shuffle; both assignments join against the broadcast (m*ks)-row
    codebook; the refinement aggregates (j, code, pos) scalar rows.  At
    100 TB the codes frame is the m-bytes-per-vector compressed corpus —
    the thing PQ exists to produce."""
    from kats_spark.operators.ivf import _rnd6, _sq_dist

    # sub feeds the seed filter, BOTH assignments, and (via the caller)
    # the query LUT — one materialization instead of four re-derivations.
    # persist(), not localCheckpoint: a lazy checkpoint converts the plan
    # to an RDD at call time (~1 s of physical planning), persist
    # registers the same boundary for free.
    from kats_spark import cache

    sub = cache.register(_subspaces(df, vec_col, id_col, m, dim).persist())
    seeds = sub.filter(F.col(id_col) < ks).select(
        "j", F.col(id_col).cast("int").alias("code"), F.col("s").alias("center")
    )

    def _assign(sub_df: DataFrame, cents: DataFrame) -> DataFrame:
        a = sub_df.join(F.broadcast(cents), "j").withColumn(
            "__d", _rnd6(_sq_dist(F.col("s"), F.col("center")))
        )
        w = Window.partitionBy(id_col, "j").orderBy("__d", "code")
        return (
            a.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, "j", "s", "code")
        )

    asg1 = _assign(sub, seeds)
    elems = asg1.select("j", "code", F.posexplode("s").alias("pos", "v"))
    cent = elems.groupBy("j", "code", "pos").agg(_rnd6(F.avg("v")).alias("cv"))
    centers = (
        cent.groupBy("j", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("j", "code", F.transform("pc", lambda x: x["cv"]).alias("center"))
        .cache()  # m*ks rows — referenced by the final assignment and every LUT
    )
    codes = _assign(sub, centers).select(id_col, "j", "code")
    return codes, centers


def adc_topk_portable(
    codes: DataFrame,
    centers: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Portable ADC top-k: each query's subvectors score the (m*ks)-row
    codebook once (the LUT — rounded), the corpus contributes only its
    code rows, and the approximate distance is the rounded sum of m LUT
    entries.  Rank on (rounded adc_dist, id).  Output (query_id, vec_id,
    adc_dist, rank) — the SQL replay computes the identical integers.

    Scale shape: the LUT is queries x m x ks rows and BROADCASTS; the
    corpus-side join is code-row-sized (m small ints per vector) — the
    full-precision vectors never participate, which is the entire point
    of ADC."""
    from kats_spark.operators.ivf import _rnd6, _sq_dist

    qsub = _subspaces(queries, vec_col, query_id_col, m, dim).withColumnRenamed(
        "s", "qs"
    )
    lut = qsub.join(F.broadcast(centers), "j").select(
        query_id_col,
        "j",
        "code",
        _rnd6(_sq_dist(F.col("qs"), F.col("center"))).alias("__ld"),
    )
    scored = (
        F.broadcast(lut)
        .join(codes, ["j", "code"])
        .groupBy(query_id_col, id_col)
        .agg(_rnd6(F.sum("__ld")).alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_dist", id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_dist", "rank")
    )
