"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) — plus a minhash source-overlap profiler and a
mixture-design weight solver.

Not in the reference (Kats is numeric-only); first-class LLM-pipeline
extensions for the corpus-building story: given a small TARGET corpus
(the domain you want more of) and the big RAW corpus, fit hashed
bag-of-n-gram multinomials on both, weight every raw document by its
target/raw log-likelihood ratio, and resample top-n under Gumbel noise
— the standard recipe for selecting pretraining data that "looks like"
a high-quality target domain.

Everything is exact, seed-deterministic arithmetic on the md5 lattice
(the ``sampling.split_assign`` convention: first 48 md5 bits, exact in
a double), so the whole pipeline — feature hashing and Gumbel noise
included — replays in the DuckDB oracle.  md5 rather than the 31-base
polynomial family of ``dedup.poly_hash_expr``: the polynomial is a
char-at-a-time higher-order-function loop (one ``substr`` per
character), while md5 is a single JVM-side call — ~3x faster per
feature at identical portability (measured on the sf0.1 bench).

Scale shape (100 TB raw corpus):

- feature extraction is a pure projection + one explode — the bigram
  pairing is array ``zip_with`` inside the row, NOT a lag window, so
  there is no shuffle before the aggregates;
- both n-gram distributions aggregate map-side to <= ``num_buckets``
  rows, and the log-ratio table (<= num_buckets rows) BROADCASTS into
  the scoring pass — the raw corpus text never shuffles;
- per-document weighting is ONE groupBy(doc) over slim (id, ratio)
  rows (doc-bounded groups: no skew);
- top-n selection is ``orderBy(key).limit(n)`` = TakeOrderedAndProject
  (per-partition partial top-k, n rows to the driver — no global
  sort), and the reattach of the selected rows to their full payload
  is a broadcast-hash join over one more scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kats_spark.operators.dedup import _P, _hash_params, normalize, shingles
from kats_spark.operators.text import tokens


def md5_hash48(col: str | Column) -> Column:
    """First 48 bits of md5 as a non-negative bigint — the portable
    fast hash: one JVM call per value (vs the char-at-a-time polynomial
    HOF), replayed in DuckDB as
    ``('0x' || substr(md5(x), 1, 12))::UBIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def ngram_bucket_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    bigrams: bool = True,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """One row per word unigram (and bigram) OCCURRENCE, hashed into
    ``num_buckets`` feature buckets: (id_col, *carry_cols, __b).

    The hashed bag-of-n-grams feature space of Xie et al. §3 (they use
    10k buckets over uni+bigrams), bucketed by the md5 lattice.  Bigrams
    pair adjacent tokens with ``zip_with`` over two slices of the token
    array — a pure projection, unlike a lag window (which would shuffle
    the corpus by document).

    ``carry_cols`` ride along unchanged — the streaming twin carries
    the event-time column through here so no stream-self-join is ever
    needed."""
    carry = [F.col(c) for c in (carry_cols or [])]
    t = tokens(normalize(F.col(text_col)))
    base = df.select(F.col(id_col), *carry, t.alias("__t"))
    if bigrams:
        left = F.expr("slice(__t, 1, greatest(size(__t) - 1, 0))")
        right = F.expr("slice(__t, 2, greatest(size(__t) - 1, 0))")
        bi = F.zip_with(left, right, lambda a, b: F.concat_ws(" ", a, b))
        feats = F.concat(F.col("__t"), bi)
    else:
        feats = F.col("__t")
    ex = base.select(F.col(id_col), *carry, F.explode(feats).alias("__f"))
    return ex.select(
        F.col(id_col),
        *carry,
        (md5_hash48("__f") % F.lit(num_buckets)).alias("__b"),
    )


def dsir_log_ratio(
    raw_feats: DataFrame,
    target_feats: DataFrame,
    num_buckets: int = 8192,
    alpha: float = 1.0,
    dense: bool = False,
) -> DataFrame:
    """Per-bucket log-likelihood ratio table (__b, __lr):

      __lr(b) = ln p_target(b) - ln p_raw(b)
      p(b)    = (count(b) + alpha) / (total + alpha * num_buckets)

    Both count tables are map-side-combined aggregates to <=
    ``num_buckets`` rows; the output is broadcast-sized by
    construction.

    ``dense=True`` emits ALL ``num_buckets`` rows (unseen buckets carry
    the pure-smoothing ratio) — the shape a STORED ratio table needs so
    scoring a future batch whose features never occurred in the fitting
    corpora is a plain inner join."""
    cr = raw_feats.groupBy("__b").agg(F.count("*").alias("__cr"))
    ct = target_feats.groupBy("__b").agg(F.count("*").alias("__ct"))
    j = (
        cr.join(ct, "__b", "full_outer")
        .select(
            "__b",
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
            F.coalesce("__ct", F.lit(0)).alias("__ct"),
        )
    )
    if dense:
        spark = raw_feats.sparkSession
        allb = spark.range(num_buckets).select(F.col("id").alias("__b"))
        j = (
            allb.join(j, "__b", "left")
            .select(
                "__b",
                F.coalesce("__cr", F.lit(0)).alias("__cr"),
                F.coalesce("__ct", F.lit(0)).alias("__ct"),
            )
        )
    tot = j.agg(
        F.sum("__cr").cast("double").alias("__tr"),
        F.sum("__ct").cast("double").alias("__tt"),
    )
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * num_buckets)
    return j.crossJoin(F.broadcast(tot)).select(
        "__b",
        (
            F.log((F.col("__ct") + a) / (F.col("__tt") + ab))
            - F.log((F.col("__cr") + a) / (F.col("__tr") + ab))
        ).alias("__lr"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    alpha: float = 1.0,
    bigrams: bool = True,
    n_docs: int | None = None,
    target_from_raw: Column | None = None,
) -> DataFrame:
    """Per-raw-document DSIR importance weight (id_col, n_feats,
    log_weight):

      log_weight(doc) = sum over the doc's n-gram occurrences of
                        ln p_target(bucket) - ln p_raw(bucket)

    — the log importance ratio of the hashed bag-of-n-grams model
    (Xie et al. §3.1; target inside raw is fine — their canonical
    setup scores The Pile against Wikipedia-in-the-Pile).

    The feature stream is consumed twice (raw distribution + scoring);
    above 1M documents it persists as a slim (id, bucket) frame so the
    tokenizer doesn't run twice over the corpus (the token_budget_sample
    count-guard pattern).  On that path the RESULT is materialized
    eagerly (localCheckpoint — slim: 3 scalars per doc) and the fat
    feature cache released before returning, so repeated calls in a
    long session never accumulate feature-frame blocks (ADVICE r09).
    Pass ``n_docs`` when the caller already knows the corpus size to
    skip the gating count() scan.

    ``target_from_raw`` (r14): when the target corpus IS a predicate
    over ``raw`` (the canonical Xie et al. setup — Wikipedia inside The
    Pile; our bench's zh-inside-documents), pass the boolean Column
    instead of a ``target`` frame: ONE map-side aggregate over one
    tokenize pass then yields BOTH distributions per bucket
    (count(*) = raw, sum(flag) = target — tokenization is per-row, so
    the flagged subtotal equals the tokenize-after-filter count
    exactly), replacing two separate count passes AND their full_outer
    stitch (target ⊆ raw means no target-only buckets exist).  Two
    tokenize passes total (ratio + scoring) instead of three, one
    fewer exchange, nothing persisted.  (An unconditionally-persisted
    one-pass variant was TRIED AND REJECTED: paired same-session A/B
    read 3.00 s vs 2.42 old on dsir_sample — materializing the ~2M
    occurrence rows costs more than re-tokenizing 5k docs.)"""
    if target_from_raw is not None:
        fr = ngram_bucket_rows(
            raw.withColumn("__is_t", target_from_raw),
            text_col,
            id_col,
            num_buckets,
            bigrams,
            carry_cols=["__is_t"],
        )
        j = fr.groupBy("__b").agg(
            F.count("*").alias("__cr"),
            F.sum(F.col("__is_t").cast("long")).alias("__ct"),
        )
        tot = j.agg(
            F.sum("__cr").cast("double").alias("__tr"),
            F.sum("__ct").cast("double").alias("__tt"),
        )
        a = F.lit(float(alpha))
        ab = F.lit(float(alpha) * num_buckets)
        lr = j.crossJoin(F.broadcast(tot)).select(
            "__b",
            (
                F.log((F.col("__ct") + a) / (F.col("__tt") + ab))
                - F.log((F.col("__cr") + a) / (F.col("__tr") + ab))
            ).alias("__lr"),
        )
        return (
            fr.join(F.broadcast(lr), "__b")
            .groupBy(id_col)
            .agg(
                F.count("*").cast("long").alias("n_feats"),
                F.sum("__lr").alias("log_weight"),
            )
        )
    fr = ngram_bucket_rows(raw, text_col, id_col, num_buckets, bigrams)
    if n_docs is None:
        # Catalyst's size estimate instead of a count() job: the gate
        # only decides whether re-tokenizing beats caching, so a byte
        # estimate is as good as a row count and costs zero jobs (the
        # count was a full scan+shuffle per call).  An over-estimate
        # just turns the cache on a little early, never changes values.
        from kats_spark.operators.skew import input_is_big

        persisted = input_is_big(raw)
    else:
        persisted = n_docs >= 1_000_000
    if persisted:
        from pyspark import StorageLevel

        fr = fr.persist(StorageLevel.MEMORY_AND_DISK)
    ft = ngram_bucket_rows(target, text_col, id_col, num_buckets, bigrams)
    lr = dsir_log_ratio(fr, ft, num_buckets, alpha)
    out = (
        fr.join(F.broadcast(lr), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("__lr").alias("log_weight"),
        )
    )
    if persisted:
        # persist+count (not an eager localCheckpoint) materializes the
        # slim result before the fat feature cache is released
        out = out.persist()
        out.count()
        fr.unpersist()
    return out


def dsir_resample(
    raw: DataFrame,
    target: DataFrame | None,
    n: int,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    alpha: float = 1.0,
    bigrams: bool = True,
    n_docs: int | None = None,
    target_from_raw: Column | None = None,
) -> DataFrame:
    """Gumbel top-n resampling without replacement, proportional to the
    DSIR importance weights (Xie et al. §3.2): key = log_weight +
    Gumbel(0,1), keep the n largest keys.

    The Gumbel draw is the deterministic md5 lattice — u = (first 48
    md5 bits + 0.5) / 2^48, g = -ln(-ln(u)) — so re-runs over the same
    snapshot select the identical subcorpus and the DuckDB oracle
    replays the selection bit-for-bit.  The top-n ranks on the ROUNDED
    key (the bitext ``__mr`` / allpairs_topk convention) with an id
    tiebreak: log_weight is a float sum whose addition order differs
    between Spark partial aggregation and DuckDB, so an unrounded key
    within an ulp of the cutoff could flip the selection between
    engines (ADVICE r09).  Selection is orderBy + limit
    (TakeOrderedAndProject: no global sort); the winners broadcast back
    onto the raw scan for their payload columns."""
    w = dsir_weights(
        raw, target, text_col, id_col, num_buckets, alpha, bigrams, n_docs,
        target_from_raw,
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("dsir"), F.lit(str(seed)), F.col(id_col).cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    gumbel = -F.log(-F.log(u))
    picked = (
        w.withColumn(
            "__key", F.round(F.col("log_weight") + gumbel + F.lit(1e-9), 6)
        )
        .orderBy(F.desc("__key"), F.col(id_col))
        .limit(n)
        .select(id_col, "n_feats", "log_weight")
    )
    return raw.join(F.broadcast(picked), id_col)


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """Estimated pairwise shingle-set Jaccard between corpus GROUPS
    (sources, snapshots, languages) from per-group minhash signatures —
    the mixture-design diagnostic: how much of source A is already in
    source B before any dedup runs.

    min over a multiset equals min over its distinct set, so no
    per-group distinct is needed: ONE pass explodes shingles and takes
    ``num_hashes`` partial-aggregating mins per group (map-side combine
    shrinks the shuffle to one row per group), then the |groups|-row
    signature frame self-joins for the pairwise agreement fractions.
    Same affine family as ``minhash_portable_sig``, seeded by the
    md5-lattice base hash reduced mod p (h < 2^31, so a*h + b stays in
    long range) — the estimate replays exactly in DuckDB.

    The signature frame PERSISTS before the self-join: it is |groups|
    rows, but its lineage is the full corpus pass — unpersisted, both
    join sides would re-tokenize the corpus (measured 2x on the
    bench).  The cache is left alive deliberately: the MATERIALIZED
    blocks are |groups| x num_hashes longs (bytes, not the corpus), so
    its lifetime cost is bounded by construction."""
    ex = df.select(
        F.col(group_col).alias("__g"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("g"),
    ).select("__g", (md5_hash48("g") % F.lit(_P)).alias("__h"))
    # ONE F.expr parse for the whole signature (the r05/r13 single-parse
    # precedent): 64 agg Columns + 128 per-side aliases + a 64-term
    # comparison sum cost ~1.5 s of py4j round trips PER CALL; an
    # array-valued aggregate plus one zip_with fold is 3 parses total.
    # The mins are exact integer math either way — identical values,
    # same oracle.
    mins = ", ".join(
        f"min((__h * {a} + {b}) % {_P})"
        for a, b in _hash_params(num_hashes, seed)
    )
    from pyspark import StorageLevel

    from kats_spark import cache

    sig = cache.register(
        ex.groupBy("__g")
        .agg(F.expr(f"array({mins})").alias("__sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a_side = sig.select(F.col("__g").alias("source_a"), F.col("__sig").alias("__sa"))
    b_side = sig.select(F.col("__g").alias("source_b"), F.col("__sig").alias("__sb"))
    # integer agreement count over two BOUND array columns (64 elements,
    # |groups|^2 rows — the HOF runs on a tiny frame)
    agree = F.expr(
        "aggregate(zip_with(__sa, __sb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    return (
        a_side.crossJoin(F.broadcast(b_side))
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def mixture_fit(
    raw: DataFrame,
    target: DataFrame | None,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 2048,
    bigrams: bool = True,
    iters: int = 500,
    target_from_raw: Column | None = None,
) -> "list[tuple[str, float]]":
    """Mixture-design weights: choose non-negative source weights
    summing to 1 so the blended hashed-n-gram distribution best
    matches the target domain's —

        min_w || P w - q ||^2   s.t.  w >= 0,  sum(w) = 1

    where column s of P is source s's bucket distribution and q the
    target's.  The data-side work is ONE aggregate to the
    (|sources| x num_buckets) count matrix (map-side combinable; the
    corpus never shuffles); the solve is a deterministic
    projected-gradient loop on that driver-resident matrix — the
    IVF-codebook pattern: driver state is bounded by construction
    (|sources| x num_buckets floats), not by corpus size.

    The simplex projection is Duchi et al. 2008's O(S log S) sort
    form.  Fixed iteration count + zero randomness -> byte-identical
    re-runs.  Returns [(source, weight)] sorted by source.  Iterative
    numpy solve -> rows-only (no SQL oracle); exact-recovery contracts
    live in tests/test_dsir.py."""
    import numpy as np

    # carry the source label through the n-gram explode instead of
    # joining it back onto the exploded occurrence rows (r13: the join
    # probed every occurrence row against a broadcast of |docs| ids —
    # carry_cols is a free projection; counts identical by construction)
    if target_from_raw is not None:
        # r14: target ⊆ raw (a predicate) — ONE tokenize pass, ONE
        # map-side aggregate, ONE collect: the (source, bucket) cell
        # additionally counts its target-flagged occurrences, and the
        # driver derives the target histogram as the integer column sum
        # (exact — same counts the separate subset pass produced).
        fr = ngram_bucket_rows(
            raw.withColumn("__s", F.col(by)).withColumn("__is_t", target_from_raw),
            text_col,
            id_col,
            num_buckets,
            bigrams,
            carry_cols=["__s", "__is_t"],
        )
        rows = (
            fr.groupBy("__s", "__b")
            .agg(
                F.count("*").alias("__c"),
                F.sum(F.col("__is_t").cast("long")).alias("__ct"),
            )
            .collect()
        )
        per_src = rows
        sources = sorted({r["__s"] for r in rows})
        s_ix = {s: i for i, s in enumerate(sources)}
        P = np.zeros((num_buckets, len(sources)))
        q = np.zeros(num_buckets)
        for r in rows:
            P[r["__b"], s_ix[r["__s"]]] = r["__c"]
            q[r["__b"]] += r["__ct"]
        P /= np.maximum(P.sum(axis=0, keepdims=True), 1.0)
        q /= max(q.sum(), 1.0)
    else:
        fr = ngram_bucket_rows(
            raw.withColumn("__s", F.col(by)),
            text_col,
            id_col,
            num_buckets,
            bigrams,
            carry_cols=["__s"],
        )
        ft = ngram_bucket_rows(target, text_col, id_col, num_buckets, bigrams)
        # the two count-matrix jobs are independent — submit both and let
        # the second's tasks back-fill the first's stragglers (guide §2.6
        # overlap-independent-jobs); collect order doesn't touch values
        # (each result is a deterministic aggregate)
        # (inheritable_thread_target: the jobs join the caller's job group)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_src = pool.submit(
                inheritable_thread_target(fr.sparkSession)(
                    lambda: fr.groupBy("__s", "__b").agg(F.count("*").alias("__c")).collect()
                )
            )
            f_tgt = pool.submit(
                inheritable_thread_target(ft.sparkSession)(
                    lambda: ft.groupBy("__b").agg(F.count("*").alias("__c")).collect()
                )
            )
            per_src = f_src.result()
            per_tgt = f_tgt.result()

        sources = sorted({r["__s"] for r in per_src})
        s_ix = {s: i for i, s in enumerate(sources)}
        P = np.zeros((num_buckets, len(sources)))
        for r in per_src:
            P[r["__b"], s_ix[r["__s"]]] = r["__c"]
        P /= np.maximum(P.sum(axis=0, keepdims=True), 1.0)
        q = np.zeros(num_buckets)
        for r in per_tgt:
            q[r["__b"]] = r["__c"]
        q /= max(q.sum(), 1.0)

    def proj_simplex(v: np.ndarray) -> np.ndarray:
        u = np.sort(v)[::-1]
        css = np.cumsum(u) - 1.0
        rho = np.nonzero(u * np.arange(1, len(v) + 1) > css)[0][-1]
        return np.maximum(v - css[rho] / (rho + 1.0), 0.0)

    S = len(sources)
    w = np.full(S, 1.0 / S)
    G = P.T @ P
    b = P.T @ q
    # Lipschitz step from the Gram spectral norm (power iteration,
    # fixed 50 rounds — deterministic)
    v = np.full(S, 1.0 / np.sqrt(S))
    for _ in range(50):
        v = G @ v
        n = np.linalg.norm(v)
        if n == 0.0:
            break
        v /= n
    L = float(v @ G @ v) or 1.0
    for _ in range(iters):
        w = proj_simplex(w - (G @ w - b) / L)
    return [(s, float(w[s_ix[s]])) for s in sources]
