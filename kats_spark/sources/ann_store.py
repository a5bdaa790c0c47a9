"""Persistent IVF index store — the stored-index half of the ANN scale
story (SCALE.md: "at 100 TB the cell id becomes a partition column —
partition pruning per query").

``save_ivf`` writes the index as a lake layout:

    <path>/centroids/   tiny parquet (n_cells rows)
    <path>/lists/       the corpus WITH its cell assignment,
                        ``partitionBy("cell_id")`` — one directory per
                        inverted list

``search_stored`` then reads centroids (broadcast-sized), picks the
``n_probe`` nearest cells per query, and scans ``lists/`` with a
``cell_id IN (...)`` filter that Spark resolves as PARTITION PRUNING:
only the probed cells' files are listed and read — the I/O contract
that makes a stored IVF index useful at corpus scale, asserted in tests
via the scan's ``PartitionFilters`` and the pruned file count.

Query-side shape mirrors ``operators/ivf.search`` (probe ranking via a
broadcast centroid table, equi-join on cell, exact cosine re-rank), so
results are identical to the in-memory path (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kats_spark.operators.similarity import cosine
from kats_spark.sources.load import footer_schema, footers, read_parquet


def save_ivf(
    indexed: DataFrame,
    model,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Write (indexed corpus, centroids) as the partitioned lake layout.
    ``indexed``/``model`` are ``operators.ivf.build_index`` outputs."""
    spark = indexed.sparkSession
    centers = [
        (int(i), [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(
        centers, "cell_id int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    indexed.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{path}/lists"
    )


def search_stored(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k cosine neighbors per query against a SAVED index.  The
    probed cell set is computed first and pushed into the lists scan as
    a partition filter, so unprobed cells cost nothing — not even a
    file-open.

    The probe set is collected driver-side (bounded: <= n_queries x
    n_probe ints, and query batches are interactive-sized by nature);
    a fully-lazy variant would join instead and give up pruning."""
    centers_df = read_parquet(spark, f"{path}/centroids")
    qc = queries.crossJoin(F.broadcast(centers_df))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col), F.col("center"), lambda a, b: (a - b) * (a - b)
            ),
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
    probe_cells = sorted(
        r.cell_id for r in probes.select("cell_id").distinct().collect()
    )
    lists = read_parquet(spark, f"{path}/lists").filter(
        F.col("cell_id").isin(probe_cells)
    )
    cand = probes.join(lists, "cell_id")
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


def save_ivf_portable(
    indexed: DataFrame,
    centers: DataFrame,
    path: str,
) -> None:
    """Write a PORTABLE index (``operators.ivf.build_index_portable``
    output) as the same lake layout ``save_ivf`` uses: tiny centroids
    parquet + lists partitioned by ``cell_id``.  The portable build's
    rounded centroids make the stored search value-hash replayable in
    DuckDB — the stored layer gets the same oracle as the in-memory
    path."""
    centers.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    indexed.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{path}/lists"
    )


def search_stored_portable(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """``operators.ivf.search_portable`` semantics (rounded
    distance-to-centroid probe ranking with cell_id tie-break, rounded
    cosine re-rank with id tie-break — byte-identical output) against a
    SAVED portable index: probed cells collect driver-side (bounded:
    <= n_queries x n_probe ints) and push into the lists scan as a
    partition filter, so unprobed cells cost nothing — not even a
    file-open."""
    from kats_spark.operators.ivf import _rnd6, _sq_dist

    centers = read_parquet(spark, f"{path}/centroids")
    qc = queries.crossJoin(F.broadcast(centers))
    ranked = qc.withColumn(
        "__d", _rnd6(_sq_dist(F.col(vec_col), F.col("center")))
    ).withColumn(
        "__cr",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy("__d", "cell_id")
        ),
    )
    probes = ranked.filter(F.col("__cr") <= n_probe).select(
        query_id_col, F.col(vec_col).alias("__qvec"), "cell_id"
    )
    probe_cells = sorted(
        r.cell_id for r in probes.select("cell_id").distinct().collect()
    )
    lists = read_parquet(spark, f"{path}/lists").filter(
        F.col("cell_id").isin(probe_cells)
    )
    cand = F.broadcast(probes).join(lists, "cell_id")
    sim = cand.withColumn(
        "cosine_sim", _rnd6(cosine(F.col("__qvec"), F.col(vec_col)))
    )
    topk = sim.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.desc("cosine_sim"), F.col(id_col)
            )
        ),
    ).filter(F.col("rank") <= k)
    return topk.select(query_id_col, id_col, "cosine_sim", "rank")


def save_band_index(
    corpus: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    buckets: int = 32,
) -> None:
    """Persist the corpus's MinHash band rows as a table bucketed by the
    join key — the amortization `incremental_neardup_pairs` promises:
    the standing corpus's signature pass runs ONCE at ingest, and every
    subsequent batch joins against the stored band table WITHOUT
    shuffling the corpus side (the bucketed scan already satisfies the
    join's distribution, so only the day's batch — millions of rows, not
    the 100 TB corpus — moves)."""
    from kats_spark.operators.dedup import (
        minhash_band_rows,
        minhash_portable_sig,
    )

    band_rows = minhash_band_rows(
        minhash_portable_sig(corpus, text_col, id_col, num_hashes, shingle_n, seed),
        id_col,
        num_hashes,
        bands,
    ).select(F.col(id_col).alias("corpus_id"), "band_id", "key")
    (
        # repartition on the EXACT bucket columns into `buckets` tasks:
        # repartition's HashPartitioning and the bucket spec share the
        # same murmur3-mod-n id, so every task holds exactly one bucket
        # and the write emits ONE file per bucket.  Without this the
        # write emits (tasks x buckets) files — the r13 spread made that
        # 32x32 ≈ 1024 tiny files, and every steady-state scan of the
        # stored index paid ~1000 file opens (guide §6 small files).
        # `buckets` stays the scale knob for file sizing.
        band_rows.repartition(buckets, "band_id", "key")
        .write.mode("overwrite")
        .bucketBy(buckets, "band_id", "key")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def save_gram_index(
    corpus: DataFrame,
    table: str,
    path: str,
    span_n: int = 20,
    min_docs: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    buckets: int = 32,
) -> None:
    """Persist the corpus's qualifying span-gram keys as a table
    bucketed by the join key — the amortization ``excise_vs_corpus``
    promises: the corpus gram pass runs ONCE at ingest, and every
    arriving batch's excision joins the stored key table without
    shuffling (or even recomputing) the corpus side.  ``portable`` and
    ``span_n``/``min_docs`` must match what queries will pass."""
    from kats_spark.operators.dedup import corpus_gram_keys

    keys = corpus_gram_keys(
        corpus, span_n, min_docs, text_col, id_col, portable
    )
    (
        # one file per bucket — see save_band_index
        keys.repartition(buckets, "gram_key")
        .write.mode("overwrite")
        .bucketBy(buckets, "gram_key")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def incremental_excise_stored(
    spark: SparkSession,
    table: str,
    new_df: DataFrame,
    span_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Cleaned arriving batch against a SAVED gram index: the batch's
    positioned grams (one linear pass over the batch) equi-join the
    bucketed key table — no corpus-side exchange, no corpus recompute —
    then the shared excision tail marks coverage and reassembles.  Same
    output as ``excise_vs_corpus`` on the full corpus (asserted in
    tests/test_sources.py)."""
    from kats_spark.operators.dedup import (
        finish_excision,
        positioned_gram_rows,
    )

    bkey = F.col("g") if portable else F.xxhash64("g")
    # fan_out=False: new_df is the small arriving batch (see
    # dedup.incremental_neardup_pairs) — spreading it is pure overhead
    starts = positioned_gram_rows(
        new_df, span_n, text_col, id_col, fan_out=False
    ).select(F.col(id_col), F.col("pos"), bkey.alias("gram_key"))
    dup_starts = starts.join(spark.table(table), "gram_key").select(
        id_col, "pos"
    )
    return finish_excision(
        new_df, dup_starts, span_n, text_col, id_col, fan_out=False
    )


def save_simhash_index(
    corpus: DataFrame,
    table: str,
    path: str,
    bits: int = 24,
    bands: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> None:
    """Persist the corpus's SimHash pigeonhole chunk rows as a table
    bucketed by the join key — the amortization
    ``dedup.incremental_simhash_pairs`` promises, completing the stored
    -index trio (MinHash bands / span grams / simhash chunks): the
    corpus fingerprint pass runs ONCE at ingest, and each arriving
    batch's near-dup check joins the bucketed table with no corpus-side
    exchange or recompute.  ``bits``/``bands`` must match what queries
    will pass."""
    from kats_spark.operators.dedup import simhash_chunk_rows, simhash_portable

    fp = simhash_portable(corpus, text_col, id_col, bits, "simhash16")
    rows = simhash_chunk_rows(fp, bands, bits, id_col, "simhash16").select(
        F.col("__band").alias("band"),
        F.col("__chunk").alias("chunk"),
        F.col(id_col).alias("corpus_id"),
        F.col("simhash16").alias("corpus_fp"),
    )
    (
        # one file per bucket — see save_band_index
        rows.repartition(buckets, "band", "chunk")
        .write.mode("overwrite")
        .bucketBy(buckets, "band", "chunk")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def incremental_simhash_stored(
    spark: SparkSession,
    table: str,
    new_df: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    bits: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental SimHash near-dup against a SAVED chunk index: the
    batch's fingerprints (one linear pass over the batch) equi-join the
    bucketed (band, chunk) table — no corpus-side exchange — and
    bit_count(xor) verifies exact hamming.  Same output as
    ``dedup.incremental_simhash_pairs`` on the full corpus (asserted in
    tests)."""
    from kats_spark.operators.dedup import (
        _check_simhash_bands,
        simhash_chunk_rows,
        simhash_portable,
    )

    _check_simhash_bands(bands, max_hamming, bits)
    fp = simhash_portable(new_df, text_col, id_col, bits, "simhash16")
    kn = simhash_chunk_rows(fp, bands, bits, id_col, "simhash16").select(
        F.col("__band").alias("band"),
        F.col("__chunk").alias("chunk"),
        F.col(id_col).alias("new_id"),
        F.col("simhash16").alias("__fa"),
    )
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("corpus_fp")))
    return (
        kn.join(spark.table(table), ["band", "chunk"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", "hamming")
        .distinct()
    )


def incremental_neardup_stored(
    spark: SparkSession,
    table: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(new_id, corpus_id) candidates for an arriving batch against a
    SAVED band index: the batch's band rows (one linear pass over the
    batch) equi-join the bucketed corpus table on (band_id, key).  Same
    output as `incremental_neardup_pairs` on the full corpus (asserted
    in tests); the corpus-side Exchange is gone — the bucketed layout
    pre-satisfies the join distribution."""
    from kats_spark.operators.dedup import (
        minhash_band_rows,
        minhash_portable_sig,
    )

    bn = minhash_band_rows(
        # fan_out=False: the arriving batch is small (see dedup.
        # incremental_neardup_pairs) — spreading it is pure overhead
        minhash_portable_sig(
            new_df, text_col, id_col, num_hashes, shingle_n, seed, fan_out=False
        ),
        id_col,
        num_hashes,
        bands,
    ).select(F.col(id_col).alias("new_id"), "band_id", "key")
    bc = spark.table(table)
    return (
        bn.join(bc, ["band_id", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def register_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_cols: list[str],
    buckets: int = 32,
) -> None:
    """Re-REGISTER an existing bucketed table directory with the catalog
    instead of rebuilding it.  The session catalog is in-memory, so a
    fresh session does not remember ``saveAsTable`` registrations from a
    previous one — before r14 every new session silently re-ran the full
    corpus index build AND rewrote the files on its first stored-index
    query (several seconds of pure waste, plus a file layout that
    depended on whichever session built last).  The schema comes from
    the parquet footers and the CLUSTERED BY spec matches what save_*
    wrote (the bucket ids are already encoded in the file names), so
    ``spark.table(...)`` plans the same bucketed scan a fresh
    ``saveAsTable`` registration would.  Callers gate on
    ``stored_is_current`` so stale data is rebuilt, never reused."""
    schema = footer_schema(spark, path)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    bc = ", ".join(f"`{c}`" for c in bucket_cols)
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING parquet "
        f"CLUSTERED BY ({bc}) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def source_fingerprint(src_path: str) -> str:
    """Content fingerprint of a source parquet (footer metadata only —
    no Spark job): row count + byte size + an md5 over every row
    group's per-column statistics (min/max/null-count/distinct, read
    from the parquet footers).  Stored-index queries key their reuse
    gate on THIS, not on ``os.path.exists``, so a regenerated
    scale-factor dataset with different contents refreshes the stored
    table instead of silently reusing a stale one (ADVICE r09) — and a
    regeneration that coincidentally matches rows+bytes still flips the
    statistics digest (ADVICE r10).  Deliberately excludes mtime:
    regenerating identical data must NOT force a rebuild (the
    amortized-first-rep design)."""
    import hashlib
    import os

    rows, size = 0, 0
    digest = hashlib.md5()
    for p, meta in footers(src_path):
        rows += meta.num_rows
        size += os.path.getsize(p)
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                st = col.statistics
                if st is None:
                    digest.update(b"|none")
                    continue
                digest.update(
                    f"|{st.min!r}:{st.max!r}:{st.null_count}:{st.distinct_count}".encode()
                )
    return f"{rows}:{size}:{digest.hexdigest()[:16]}"


def stored_is_current(store_path: str, fingerprint: str) -> bool:
    """True iff ``store_path`` was built from a source matching
    ``fingerprint`` (see ``source_fingerprint``)."""
    import os

    fp_file = os.path.join(store_path, "_SOURCE_FINGERPRINT")
    if not os.path.exists(fp_file):
        return False
    with open(fp_file) as f:
        return f.read().strip() == fingerprint


def mark_stored(store_path: str, fingerprint: str) -> None:
    """Record the source fingerprint next to a freshly-built stored
    table (call after the save succeeds)."""
    import os

    with open(os.path.join(store_path, "_SOURCE_FINGERPRINT"), "w") as f:
        f.write(fingerprint)


def save_dsir_ratio(
    raw: DataFrame,
    target: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    alpha: float = 1.0,
    bigrams: bool = True,
) -> None:
    """Persist the DENSE DSIR log-ratio table (operators/dsir.py) —
    the stored-model analogue of the band/gram/chunk indexes: fit the
    target/raw hashed-n-gram ratio ONCE over the reference corpora,
    then score every arriving batch against the frozen table with no
    re-fit and no corpus-side pass.  Exactly ``num_buckets`` rows
    (unseen buckets carry the pure-smoothing ratio), so a plain parquet
    file that always broadcasts."""
    from kats_spark.operators.dsir import dsir_log_ratio, ngram_bucket_rows

    fr = ngram_bucket_rows(raw, text_col, id_col, num_buckets, bigrams)
    ft = ngram_bucket_rows(target, text_col, id_col, num_buckets, bigrams)
    lr = dsir_log_ratio(fr, ft, num_buckets, alpha, dense=True)
    lr.coalesce(1).write.mode("overwrite").parquet(path)


def dsir_weights_stored(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    bigrams: bool = True,
) -> DataFrame:
    """Score an arriving batch against a SAVED dense DSIR ratio table:
    one feature pass over the batch, broadcast join on the bucket, one
    groupBy(doc) — the batch text never shuffles and the reference
    corpora are never touched.  ``num_buckets``/``bigrams`` must match
    what was saved.  Output (id_col, n_feats, log_weight), identical to
    ``dsir_weights`` on the fitting corpus (asserted in tests)."""
    from kats_spark.operators.dsir import ngram_bucket_rows

    lr = read_parquet(spark, path)
    # dense table: exactly num_buckets rows, counted from the footers
    n_stored = sum(meta.num_rows for _, meta in footers(path))
    if n_stored != num_buckets:
        raise ValueError(
            f"stored ratio table at {path} has {n_stored} buckets but "
            f"num_buckets={num_buckets} was requested — a mismatch would "
            "hash features into the wrong rows silently"
        )
    feats = ngram_bucket_rows(new_df, text_col, id_col, num_buckets, bigrams)
    return (
        feats.join(F.broadcast(lr), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("__lr").alias("log_weight"),
        )
    )


def save_bitext_target(
    y_df: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the TARGET-language side of ANN bitext mining as a
    portable-IVF lake layout (the ``save_ivf_portable`` shape): tiny
    centroids parquet + inverted lists partitioned by ``cell_id``, each
    list row carrying (y_id, vector, precomputed L2 norm).  Built ONCE
    per target snapshot; every subsequent source batch mines against it
    with no target-side pass (``bitext_mine_stored``) — the amortized
    daily-mining shape of CCMatrix."""
    from kats_spark.operators import ivf
    from kats_spark.operators.similarity import l2_norm

    y = y_df.select(F.col(id_col).alias("y_id"), F.col(vec_col).alias("__yv"))
    seeds = ivf.seed_smallest_ids(y, n_cells, vec_col="__yv", id_col="y_id")
    indexed, centers = ivf.build_index_portable(
        y, vec_col="__yv", id_col="y_id", n_cells=n_cells, seeds=seeds
    )
    indexed = indexed.withColumn("__ny", l2_norm(F.col("__yv")))
    centers.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    indexed.write.mode("overwrite").partitionBy("cell_id").parquet(f"{path}/lists")


def bitext_mine_stored(
    spark: SparkSession,
    path: str,
    x_df: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine a source-language batch against a SAVED bitext target index:
    probe ranking against the broadcast centroids, the probed cell set
    collected driver-side (bounded: <= n_cells ints) and pushed into the
    lists scan as a partition filter — unprobed cells cost nothing, not
    even a file-open — then the byte-identical candidate scoring
    (per-row norms, dot-only per pair) and the exact operator's shared
    ``_margin_tail``.  Output equals ``bitext_margin_pairs_ann`` with
    the same (n_cells, n_probe) on the same frames (asserted in
    tests)."""
    from kats_spark.operators.ivf import _rnd6, _sq_dist
    from kats_spark.operators.similarity import _margin_tail, dot, l2_norm

    centers = read_parquet(spark, f"{path}/centroids")
    x = x_df.select(
        F.col(id_col).alias("x_id"), F.col(vec_col).alias("__xv")
    ).withColumn("__nx", l2_norm(F.col("__xv")))
    xc = x.crossJoin(F.broadcast(centers))
    ranked = xc.withColumn(
        "__d", _rnd6(_sq_dist(F.col("__xv"), F.col("center")))
    ).withColumn(
        "__cr",
        F.row_number().over(Window.partitionBy("x_id").orderBy("__d", "cell_id")),
    )
    # persist the probe frame: it feeds the probed-cell collect AND the
    # candidate join below — without the boundary the centroid ranking
    # window runs twice (the collect's job materializes the cache)
    probes = ranked.filter(F.col("__cr") <= n_probe).select(
        "x_id", "__xv", "__nx", "cell_id"
    ).persist()
    probe_cells = sorted(
        r.cell_id for r in probes.select("cell_id").distinct().collect()
    )
    lists = read_parquet(spark, f"{path}/lists").filter(
        F.col("cell_id").isin(probe_cells)
    )
    scored = (
        probes.join(lists, "cell_id")
        .select(
            "x_id",
            "y_id",
            (dot(F.col("__xv"), F.col("__yv")) / (F.col("__nx") * F.col("__ny"))).alias(
                "__cos"
            ),
        )
        # persist(), not a lazy localCheckpoint: same boundary for the
        # margin tail's consumers, no plan->RDD conversion at call time
        .persist()
    )
    from kats_spark import cache

    scored = cache.register(scored)
    return _margin_tail(scored, k, threshold, hint_broadcast_avgs=False)
