"""Scale-linearity smoke: replicate the sf0.1 corpus k times (fresh ids,
perturbed text/embeddings so dedup doesn't collapse the copies) and time
the banded/bucketed candidate generators at 1x/2x/4x.  A near-quadratic
candidate stage shows up as t(4x)/t(1x) >> 4; the banded plans should
grow ~linearly in rows + pair volume.

Usage: python tools/scale_smoke.py [--ops minhash,semantic,...]
Writes one JSON line per op: {"op": ..., "t1": s, "t2": s, "t4": s,
"growth_4x": t4/t1, "rows": [n1, n2, n4]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from kats_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate_docs(spark, k: int) -> DataFrame:
    """k perturbed copies with disjoint ids: copy j appends a j-specific
    token so exact/near-dup stages see related-but-distinct documents
    (the realistic near-dup regime, not k-way exact duplicates)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for j in range(k):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(j * n)).alias("doc_id"),
                F.concat_ws(" ", F.col("text"), F.lit(f"rep{j}")).alias("text"),
                "lang",
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism)


def replicate_emb(spark, k: int) -> DataFrame:
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = []
    for j in range(k):
        shift = float(j) * 1.0e-3
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(j * n)).alias("vec_id"),
                F.transform("embedding", lambda x: x + F.lit(shift)).alias(
                    "embedding"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism)


def run_op(name: str, spark, k: int) -> tuple[float, int]:
    from kats_spark.operators import dedup, sampling, similarity

    t0 = time.time()
    if name == "minhash":
        df = replicate_docs(spark, k)
        n = dedup.minhash_lsh_pairs(df).count()
    elif name == "jaccard":
        df = replicate_docs(spark, k)
        n = dedup.jaccard_allpairs(df).count()
    elif name == "simhash":
        df = replicate_docs(spark, k)
        fp = dedup.simhash_portable(df, bits=24)
        n = dedup.simhash_pairs(fp, max_hamming=1, bands=2, bits=24,
                                fp_col="simhash16").count()
    elif name == "semantic":
        df = replicate_emb(spark, k)
        n = similarity.semantic_dedup(df, n_cells=8 * k).count()
    elif name == "embed_neardup":
        df = replicate_emb(spark, k)
        n = similarity.embedding_neardup_pairs(df, threshold=0.4).count()
    elif name == "sample":
        df = replicate_docs(spark, k)
        n = sampling.token_budget_sample(
            df, budget_tokens=5000, by=["source", "lang"], salt_shards=256
        ).count()
    elif name == "pack":
        df = replicate_docs(spark, k)
        n = sampling.pack_sequences(df, seq_len=2048, salt_shards=256).count()
    elif name == "pack_big":
        # >1M rows at every multiple, so the salt_shards auto-gate
        # (sampling.py: <1M -> naive single window, else 256-shard
        # salted) takes the SALTED path — the 100 TB regime the gate
        # exists for.  Synthetic short docs: token counts 1..50.
        n_docs = 1_200_000 * k
        df = spark.range(n_docs).selectExpr(
            "id as doc_id",
            "repeat('tok ', 1 + cast(id % 50 as int)) as text",
        )
        n = sampling.pack_sequences(df, seq_len=2048).count()
    elif name == "chunk":
        from kats_spark.operators import text as text_ops

        df = replicate_docs(spark, k)
        n = text_ops.chunk_documents(df, chunk_size=64, overlap=16).count()
    elif name == "tfidf":
        # the DESIGNED regime: vocabulary grows with the corpus (Heaps'
        # law) so per-term document frequency stays bounded — the shape a
        # real corpus has AFTER sublinear-tf truncation demotes the
        # saturated head (and the shape max_df stopword pruning produces
        # explicitly).  Uniform draws over a vocab of n_docs/2 terms give
        # df ~= 120 per term independent of corpus size, so the
        # inverted-index join's sum(df^2) grows LINEARLY with the corpus.
        # The opposite regime — a vocabulary that does NOT grow (the sf
        # documents table's 40 flat terms, or a heavy Zipf head) — is
        # quadratic BY CONSTRUCTION for any all-pairs-exact method
        # (measured: un-joinable at 20k docs before sublinear-tf +
        # posting_cap landed; see SCALE.md) and is posting_cap's job.
        from kats_spark.operators import text as text_ops

        n_docs = 5000 * k
        vmax = n_docs // 2
        tok = (
            "concat('w', cast(abs(xxhash64(id * 100 + j, 42L)) "
            f"% {vmax}L as string))"
        )
        df = (
            spark.range(n_docs)
            .selectExpr(
                "id as doc_id",
                "transform(sequence(1, 60), j -> " + tok + ") as toks",
            )
            .selectExpr("doc_id", "array_join(toks, ' ') as text")
        )
        n = text_ops.tfidf_topk_pairs(df, k=3, top_m=10).count()
    elif name == "excise":
        # replicated copies share every span except the appended repN
        # token, so the duplicated-span coverage is near-total — the
        # worst-case removal regime: the gram-df table, the join-back
        # and the reassembly all see maximum duplicate density.
        df = replicate_docs(spark, k)
        n = dedup.excise_dup_spans(df, span_n=5).count()
    elif name == "incremental":
        df = replicate_docs(spark, k)
        new_batch = df.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
        )
        n = dedup.incremental_neardup_pairs(new_batch, df).count()
    elif name == "dupspans":
        df = replicate_docs(spark, k)
        n = dedup.dup_span_fraction(df, span_n=20).count()
    elif name == "incr_simhash":
        df = replicate_docs(spark, k)
        new_batch = df.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
        )
        n = dedup.incremental_simhash_pairs(
            new_batch, df, max_hamming=1, bands=2, bits=24
        ).count()
    elif name == "bpe":
        # the synthetic corpus's vocabulary is flat, so growth here
        # measures the one corpus-sized pass (tokenize + word groupBy);
        # the merge rounds are vocabulary-sized and constant
        from kats_spark.operators import bpe as bpe_ops

        df = replicate_docs(spark, k)
        n = bpe_ops.bpe_train(df, num_merges=10).count()
    elif name == "dsir":
        # weights over the replicated corpus (target = every 7th doc):
        # two corpus passes (bucket counts + scoring) with a broadcast
        # ratio join between them — expect ~linear growth
        from kats_spark.operators import dsir as dsir_ops

        df = replicate_docs(spark, k)
        n = dsir_ops.dsir_weights(
            df, df.filter(F.col("doc_id") % 7 == 0), num_buckets=1024
        ).count()
    elif name == "overlap":
        # one explode+min pass to |sources| signature rows; the self-
        # join is constant-size, so growth is the corpus pass alone
        from kats_spark.operators import dsir as dsir_ops

        df = replicate_docs(spark, k)
        n = dsir_ops.source_overlap(df, num_hashes=64).count()
    elif name == "qbuckets":
        # logppl subplan + the tiny (stratum, bin) histogram — growth is
        # the two corpus token passes; the tercile windows are constant
        from kats_spark.operators.sampling import quality_buckets, unigram_logppl

        df = replicate_docs(spark, k).withColumn(
            "lang", F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string"))
        )
        lp = unigram_logppl(df).join(df.select("doc_id", "lang"), "doc_id")
        n = quality_buckets(lp, bins=1000).count()
    elif name == "clusterreps":
        # simhash pair graph + components + the max_by retention agg —
        # growth tracks the pair volume of the replicated near-dups
        df = replicate_docs(spark, k).withColumn("n_chars", F.length("text"))
        fp = dedup.simhash_portable(df, bits=24)
        pairs = dedup.simhash_pairs(fp, max_hamming=1, bands=2, bits=24,
                                    fp_col="simhash16")
        n = dedup.cluster_representatives(df, pairs, "n_chars").count()
    elif name == "unimax":
        # one map-side token aggregate to |langs| rows; the waterfilling
        # windows run on that constant-size frame — growth is the
        # corpus token pass alone
        from kats_spark.operators.sampling import unimax_budgets

        df = replicate_docs(spark, k)
        n = unimax_budgets(df, budget_tokens=15000.0, epochs_cap=2.0).count()
    elif name == "quant":
        # pure projection + posexplode: no shuffle, no state — expect
        # linear in rows
        df = replicate_emb(spark, k)
        n = similarity.quantize_int8_rows(df).count()
    elif name == "shard":
        # salted-exact cumsum over slim (id, tokens, rank) rows — the
        # 256-shard path; growth is the token count + two slim shuffles
        df = replicate_docs(spark, k)
        n = sampling.assign_shards(df, shard_tokens=2000, seed=5).count()
    elif name in ("bitext_exact", "bitext_ann"):
        # the contrast pair: the exact baseline broadcasts the whole
        # target side and scores |x|*|y| cosines (quadratic BY DESIGN —
        # the documented scale-killer), the ANN path probes IVF cells
        # (n_cells ~ sqrt(|Y|)) and joins candidates by cell_id
        emb = replicate_emb(spark, k)
        x = emb.filter(F.col("vec_id") % 2 == 0)
        y = emb.filter(F.col("vec_id") % 2 == 1)
        if name == "bitext_exact":
            n = similarity.bitext_margin_pairs(x, y, k=4, threshold=1.0).count()
        else:
            # LINEAR cell scaling (constant cell size) — the regime a
            # stored-index deployment runs: candidates per source stay
            # bounded, so total work grows linearly.  sqrt-scaling
            # (faiss's search-time balance) gives the n^1.5 IVF
            # asymptotic instead — still strictly below exact's n^2.
            cells = {1: 8, 2: 16, 4: 32}[k]
            n = similarity.bitext_margin_pairs_ann(
                x, y, k=4, threshold=1.0, n_cells=cells, n_probe=3
            ).count()
    elif name == "bitext_stored":
        # the amortized deployment (r10 stored index / r11 streaming
        # consumer): the target index is built ONCE per snapshot —
        # excluded from the timer like the other stored-index rows —
        # and each source batch mines via probed-cell partition-pruned
        # list scans.  Expected growth: ~linear in |x| (probes per
        # source constant, cell size constant under linear cell scaling).
        import shutil
        import tempfile

        from kats_spark.sources.ann_store import (
            bitext_mine_stored,
            save_bitext_target,
        )

        emb = replicate_emb(spark, k)
        x = emb.filter(F.col("vec_id") % 2 == 0)
        y = emb.filter(F.col("vec_id") % 2 == 1)
        cells = {1: 8, 2: 16, 4: 32}[k]
        tmp = tempfile.mkdtemp(prefix=f"bitext_idx_{k}x_")
        try:
            save_bitext_target(y, tmp, n_cells=cells)
            t0 = time.time()  # restart: measure MINING only
            n = bitext_mine_stored(
                spark, tmp, x, k=4, threshold=1.0, n_probe=3
            ).count()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    elif name == "corpusbuild":
        # the whole-pipeline chain (score/filter -> exact dedup ->
        # near-dup removal -> salted budget sample -> packing stats):
        # replicated docs written to a temp sf-dir so the query runs its
        # real entry (q_corpus_build reads only documents.parquet).
        # Growth driver = doc/token volume through every stage; the
        # budget-fill stage is count-gated (<1M docs -> single window,
        # else 256-shard salted) and stays sub-1M here, so this measures
        # the bench-scale plan shape.
        import shutil
        import tempfile

        from kats_spark import cache
        from kats_spark.plans.pipeline_queries import q_corpus_build

        tmp = tempfile.mkdtemp(prefix=f"corpusbuild_{k}x_")
        try:
            replicate_docs(spark, k).withColumn(
                "n_chars", F.length("text").cast("long")
            ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            t0 = time.time()  # restart: measure the pipeline, not the copy
            n = q_corpus_build(spark, tmp).count()
        finally:
            cache.clear()
            shutil.rmtree(tmp, ignore_errors=True)
    elif name == "metalearn":
        # per-series candidate tournament + the TsFeatures expression
        # layer (the q_metalearn_metadata shape): growth dimension is
        # SERIES COUNT (k x 5 suffixed copies of the hourly series) —
        # the 100 TB regime is many series, not longer ones.  Every
        # stage is per-series windows/aggs, so expect ~linear.
        from kats_spark.models.metalearner import metadata_tournament
        from kats_spark.operators import tsfeatures as tsf
        from kats_spark.plans.queries import hourly_series

        base = hourly_series(spark, SF)
        parts = [
            base.select(
                F.concat_ws("_", F.col("series_id"), F.lit(str(j))).alias("series_id"),
                "time",
                (F.col("value") + F.lit(float(j) * 1e-3)).alias("value"),
            )
            for j in range(k)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df = df.repartition(spark.sparkContext.defaultParallelism).persist()
        df.count()
        t0 = time.time()  # measure the tournament + feature layer only
        groups = [g for g in tsf.FEATURE_GROUPS if g != "kernel"]
        feats = tsf.tsfeatures(df, period=24, window_size=48, selected=groups)
        tour = metadata_tournament(df, steps=24, freq_seconds=3600)
        n = feats.join(tour, "series_id").count()
        df.unpersist()
    elif name == "ivfpq":
        # the full IVF-PQ chain (VERDICT r12 item #7): coarse k-means
        # cells + residual PQ codebooks + probed ADC scan + exact
        # re-rank, on a k x replicated corpus with a FIXED query set.
        # Growth dimension is corpus size; the bounded parts (Lloyd
        # rounds on a capped sample, 5 queries, 40-vector re-rank) stay
        # constant, so the scan/encode stages dominate and the chain
        # should read ~linear.
        from kats_spark.operators import ivf, pq

        emb = replicate_emb(spark, k).persist()
        emb.count()
        t0 = time.time()  # measure build + probe, not the replication
        indexed, centers_df = ivf.build_index_portable(
            emb, id_col="vec_id", n_cells=8
        )
        enc, centers, cb = pq.ivfpq_build(
            emb, id_col="vec_id", n_cells=8, m=16, ks=32,
            coarse=(indexed, centers_df),
        )
        qrows = [
            (int(r.vec_id), list(r.embedding))
            for r in emb.filter(F.col("vec_id") < 5).collect()
        ]
        n = pq.ivfpq_search_reranked(
            enc, centers, cb, qrows, emb, k=10, n_probe=4, rerank_factor=4,
            id_col="vec_id",
        ).count()
        emb.unpersist()
    elif name == "ks":
        from kats_spark.operators.dist_distance import ks_drift

        n_rows = 400_000 * k
        df = spark.range(n_rows).selectExpr(
            "concat('s', cast(id % 8 as string)) as series_id",
            "timestamp_seconds(1704067200 + (id % 2000000)) as time",
            "cast(abs(xxhash64(id, 7L)) % 1000 as double) / 10 as value",
        )
        n = ks_drift(df, "2024-01-12 00:00:00").count()
    else:
        raise ValueError(name)
    return time.time() - t0, n


def main() -> None:
    ops = ["minhash", "jaccard", "simhash", "semantic", "embed_neardup", "sample"]
    for i, a in enumerate(sys.argv):
        if a == "--ops":
            ops = sys.argv[i + 1].split(",")
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # warm all workers
    spark.range(10_000_000).repartition(64).select(F.sum("id")).collect()
    for op in ops:
        row: dict = {"op": op}
        rows = []
        run_op(op, spark, 1)  # discard: absorb codegen/JIT warmup so
        # t1 isn't inflated (without this every op reads sub-linear)
        for k in (1, 2, 4):
            t, n = run_op(op, spark, k)
            row[f"t{k}"] = round(t, 2)
            rows.append(n)
        row["growth_4x"] = round(row["t4"] / max(row["t1"], 1e-9), 2)
        row["rows"] = rows
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
