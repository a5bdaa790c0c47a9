"""Deduplication operators for training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the
standard corpus-dedup stack, built Spark-first:

- exact: hash-groupBy on a normalized fingerprint, keep min(doc_id) —
  one shuffle, map-side partial agg.
- minhash_lsh: shingle → minhash signature (row-based hashed shingles +
  64 partial-agg mins, no UDF) → band buckets → in-bucket pair expansion
  (collect the sorted member ids per (band, bucket), generate (i < j)
  pairs in-row) → distinct.  At 100 TB the bucket groupBy is the only
  post-signature shuffle and is key-spread by construction (bucket ids).
- simhash: 64-bit sign-sum hash over token hashes; near-dups = hamming
  distance ≤ k on bucketed prefixes.
- jaccard_allpairs: exact all-pairs shingle-set Jaccard with prefix
  filtering (no LSH approximation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kats_spark import cache
from kats_spark.operators.text import tokens

# Mersenne prime for the affine minhash permutations; 2^31-1 keeps
# a*h+b within long range (a,b,h < 2^31 -> product < 2^62, no overflow)
_P = 2147483647  # 2^31 - 1


def normalize(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) text.
    Returns the surviving rows."""
    keyed = df.withColumn("__fp", F.xxhash64(normalize(F.col(text_col))))
    reps = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(reps, ["__fp", id_col]).drop("__fp")


def _tok_rows(
    df: DataFrame, text_col: str, id_col: str, fan_out: bool = True
) -> DataFrame:
    """``(id, __pos, __tok)`` exploded token rows behind every row-based
    gram builder.  The NARROW (id, text) projection is spread (hashed on
    ``id``) before the tokenize+explode: on a single-split scan the regex
    tokenization would serialize on one task, and the id-hash exchange is
    the SAME partitioning the (id, pos) windows downstream need — one
    exchange total, carrying raw doc rows instead of exploded token rows
    (fewer bytes, guide §2.3/§2.5).  No-op at real corpus split counts.

    ``fan_out=False`` skips the spread — for callers that KNOW ``df`` is
    a small arriving batch (guide §8: use what you know that the
    optimizer does not).  Catalyst cannot see a filter's selectivity, so
    a batch derived from the corpus scan carries the corpus' size
    estimate and spread() would fire; the r14 A/B measured that exchange
    at +0.2..0.8 s per stored/incremental query while the downstream
    window exchange it pre-empts is AQE-coalesced to almost nothing at
    batch size.  Values are identical either way (pure partitioning)."""
    from kats_spark.operators.skew import spread

    t = tokens(normalize(F.col(text_col)))
    narrow = df.select(F.col(id_col), F.col(text_col))
    if fan_out:
        narrow = spread(narrow, id_col)
    return narrow.select(F.col(id_col), F.posexplode(t).alias("__pos", "__tok"))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (array of strings, distinct)."""
    t = tokens(normalize(text))
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))
    return F.array_distinct(grams)


def _rot(c: Column, k: int) -> Column:
    """64-bit rotate-left by k (codegen'd long ops)."""
    return F.shiftleft(c, k).bitwiseOR(F.shiftrightunsigned(c, 64 - k))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, g) DISTINCT hashed word-n-gram shingle rows — the row-based
    shingle plan.

    Why rows, not arrays: a lambda that references a computed array
    expression re-evaluates that expression PER ELEMENT (Spark inlines the
    tree into the lambda body and HOFs are excluded from
    common-subexpression elimination) — the array-of-strings shingle
    builder was O(tokens²) per document and the hottest expression in the
    dedup pipeline.  Here tokenization and token hashing run exactly once
    per token (posexplode → xxhash64), and the n-gram combine is
    ``lead()`` over the (id, pos) window — all narrow long ops after one
    linear shuffle, the plan that still holds at corpus scale.

    Set semantics match the string n-grams of ``shingles`` (injective
    modulo 2^-64 hash collisions): docs shorter than n tokens contribute
    their single partial gram, like the string builder's truncated slice.
    """
    from pyspark.sql import Window

    tok = _tok_rows(df, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy("__pos")
    h = F.xxhash64("__tok")
    g = h
    for j in range(1, n):
        g = g.bitwiseXOR(_rot(F.coalesce(F.lead(h, j).over(w), F.lit(0)), (j * 21) % 63))
    cnt = F.count("*").over(Window.partitionBy(id_col))
    rows = tok.withColumn("__g", g).withColumn("__n_tok", cnt)
    full = rows.filter(
        (F.col("__pos") <= F.col("__n_tok") - n) | (F.col("__pos") == 0)
    )
    return full.select(F.col(id_col), F.col("__g").alias("g")).distinct()


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """(id, sig array<bigint>) minhash signatures, h_k(x) = (a_k·h + b_k) mod p.

    Plan shape matters: Spark's codegen excludes lambda expressions from
    common-subexpression elimination, so computing 64 ``array_min(
    transform(...))`` columns re-tokenizes the document 64×.  Instead we
    explode the shingle hashes once and take 64 partial-aggregating ``min``
    s — tokenize/hash exactly once per shingle, map-side combine shrinks
    the shuffle to one row per doc."""
    exploded = shingle_rows(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.pmod(F.col("g"), F.lit(_P)).alias("__h")
    )
    # F.expr string parses, not Column-operator trees: building 64 agg
    # expressions through py4j operator calls costs ~6 driver round
    # trips each and was the dominant DRIVER-side cost of the whole
    # query (~1.2 s of a 2.5 s bench run); one parsed string per agg is
    # the identical expression at a fraction of the construction time.
    aggs = [
        F.expr(f"min((__h * {a} + {b}) % {_P})").alias(f"__s{k}")
        for k, (a, b) in enumerate(_hash_params(num_hashes, seed))
    ]
    per_doc = exploded.groupBy(id_col).agg(*aggs)
    sig_arr = "array(" + ", ".join(f"__s{k}" for k in range(num_hashes)) + ")"
    return per_doc.select(id_col, F.expr(sig_arr).alias("__sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows_per_band = num_hashes // bands; a pair collides if any band's
    row-slice hashes equal.  Plan: signature (narrow) → explode bands
    (narrow, xN) → groupBy (band, bucket) collecting member ids → pair
    generation INSIDE the bucket row (nested transform over the sorted id
    array) → distinct.  One pass over the corpus: a self-join formulation
    would execute the whole signature pipeline twice and shuffle both
    copies.

    Skew guard: a template-heavy corpus can put 10^6 docs in ONE
    (band, bucket) — the in-row expansion would then build a 10^12-struct
    array in a single row.  Buckets above ``bucket_cap`` members instead
    route to a member-explode self-join keyed on (band, bucket): the same
    m^2 pairs, but emitted as distributed join output rows rather than
    one monster array.  Typical buckets (near-dup group sized) stay on
    the cheap in-row path; output is identical either way (asserted in
    tests).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    # one expression computes all band buckets, then a single posexplode —
    # the signature array is evaluated once per doc
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda band: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("__sig", band * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
    banded = sig.select(
        F.col(id_col), F.posexplode(buckets).alias("__band", "__bucket")
    )
    # NO boundary on grouped, deliberately (r13 A/B: persist cost +0.1 s
    # net): the three consumers' subtrees are byte-identical up to the
    # aggregate's exchange, so runtime stage reuse already computes the
    # signature pipeline once — unlike the aliased-PROJECTION self-joins
    # (simhash/banded-LSH), whose sides differ and never reuse.
    grouped = (
        banded.groupBy("__band", "__bucket")
        .agg(F.array_sort(F.collect_set(id_col)).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    # all (i < j) pairs of the sorted member array; __ids is a bound
    # column, so the nested lambda does not re-evaluate upstream work
    pairs_arr = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    small = grouped.filter(F.size("__ids") <= bucket_cap)
    in_row = (
        small.select(F.explode(pairs_arr).alias("__p"))
        .select(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
    )
    big = grouped.filter(F.size("__ids") > bucket_cap)
    members = big.select(
        "__band", "__bucket", F.explode("__ids").alias("__id")
    )
    joined = (
        members.withColumnRenamed("__id", "id_a")
        .join(
            members.withColumnRenamed("__id", "id_b"),
            ["__band", "__bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return in_row.unionByName(joined).distinct()


def jaccard_allpairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold with prefix filtering
    (Bayardo et al. AllPairs / PPJoin candidate generation).

    The naive shared-shingle self-join explodes quadratically on frequent
    shingles (the sf0.1 hotspot: 23s for 5k docs, unbounded at corpus
    scale).  Prefix filter: order every doc's shingle set by a canonical
    global order (document frequency ascending, rarest first), keep only
    the first ``|S| - ceil(t*|S|) + 1`` shingles as join keys — any pair
    with J >= t provably shares a prefix element, and frequent shingles
    almost never appear in prefixes, so the candidate join is near-linear.
    Verification computes exact Jaccard on the full shingle arrays, so the
    result set is IDENTICAL to the naive plan (same DuckDB oracle).

    Shuffle discipline (the part that survives a 100x scale-up): the
    shingle window, the (id, g) dedup, and the per-doc prefix aggregation
    all cluster on ``id`` — Spark reuses HashPartitioning(id) across the
    three, so the whole per-document side costs ONE exchange.  The
    document-frequency table is an agg keyed on ``g`` (second exchange)
    joined back broadcast-or-shuffle (AQE decides by size).  Candidates
    self-join on prefix shingles (third exchange) and verification joins
    the one-row-per-doc shingle arrays (fourth).  Nothing is quadratic in
    document frequency.
    """
    t = float(threshold)
    # row-based hashed shingles (see shingle_rows for why rows, not HOF
    # arrays).  Long-array set ops beat string-array ops in the verify
    # stage; 64-bit collisions are ~2^-64 per pair — exactness holds.
    # ex feeds BOTH the document-frequency agg and the per-doc join below —
    # without a persist the whole shingle pipeline (scan + normalize regex +
    # posexplode + n-gram window + distinct) executes twice per action
    ex = cache.register(
        shingle_rows(df, text_col, id_col, shingle_n).persist()
    )
    freq = ex.groupBy("g").agg(F.count("*").alias("__df"))
    # per-doc row: full shingle array + the (df, g)-sorted prefix, built in
    # ONE aggregation (array_sort on structs orders by df asc, then g asc
    # — the canonical rarest-first AllPairs order).
    sh = (
        ex.join(freq, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("__sz"),
            F.array_sort(F.collect_list(F.struct("__df", "g"))).alias("__ranked"),
        )
        .withColumn("__sh", F.col("__ranked.g"))
        .withColumn(
            "__prefix",
            F.slice(
                F.col("__sh"),
                1,
                (F.col("__sz") - F.ceil(F.lit(t) * F.col("__sz")) + 1).cast("int"),
            ),
        )
        .drop("__ranked")
        .persist()
    )
    sh = cache.register(sh)
    prefix = sh.select(id_col, "__sz", F.explode("__prefix").alias("g"))
    a = prefix.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("sz_a"), "g")
    b = prefix.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("sz_b"), "g")
    # length filter: J >= t forces t·|A| <= |B| and t·|B| <= |A|
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= F.lit(t) * F.col("sz_a"))
            & (F.col("sz_a") >= F.lit(t) * F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sh.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"), F.col("__sz").alias("sz_a")
    )
    sb = sh.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"), F.col("__sz").alias("sz_b")
    )
    j = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        j.withColumn("__jac", jac)
        .filter(F.col("__jac") >= threshold)
        .select("id_a", "id_b", F.col("__jac").alias("jaccard"))
    )


# Two 32-bit counting lanes per bigint; no array holds 2^31 elements, so
# a lane count never carries into its neighbour.
_LANES = (1 << 32) | 1


def _simhash_rows(
    df: DataFrame, text_col: str, token_hash: str, bits: int, out_col: str, keep: list[str]
) -> DataFrame:
    """Row-local sign-sum SimHash: ``keep`` plus the ``bits``-wide
    fingerprint ``out_col`` of every row whose text has a token.
    ``token_hash`` is SQL over the token ``g`` giving its hash with bit
    ``b`` at bit ``b % half`` of lane ``b // half`` (``half`` =
    ceil(bits/2)).  The hashes are staged once per document; each of the
    ``half`` folds over them counts two bits, and bit ``b`` is set when
    more than half of the tokens set it (the sign of the per-bit ±1 sum).
    No explode, aggregate, join or exchange.

    Token-less rows (NULL, empty, whitespace) are dropped on the raw
    text: a filter on the staged array would be pushed below the staging
    and tokenize every document twice."""
    half = (bits + 1) // 2
    cols = [f"`{c}`" for c in keep]
    counts = (
        df.filter(F.col(text_col).rlike(r"\S"))
        .select(*keep, tokens(normalize(F.col(text_col))).alias("__t"))
        .selectExpr(*cols, f"transform(__t, g -> {token_hash}) AS __y")
        .selectExpr(*cols, "size(__y) AS __n", *(
            f"aggregate(__y, 0L, (a, y) -> a + ((y >> {s}) & {_LANES})) AS __c{s}"
            for s in range(half)
        ))
    )
    fp = " + ".join(
        f"shiftleft(CAST(2 * (__c{b % half} {'>> 32' if b >= half else '& 4294967295'}) "
        f"> __n AS BIGINT), {b})"
        for b in range(bits)
    )
    # never NULL, but the hash's ``%`` makes Catalyst think so; without the
    # coalesce a join on the fingerprint infers isnotnull(fp) and pushes it
    # below the staging, recomputing every fold
    return counts.selectExpr(*cols, f"coalesce(CAST(0 AS BIGINT) + {fp}, 0L) AS `{out_col}`")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash: per-token xxhash64, sign-sum each bit, collapse to
    a bigint — ``df``'s columns plus ``out_col`` for the rows that have
    a token (:func:`_simhash_rows`, 32 folds).  Row-local, so ``id_col``
    is unused."""
    return _simhash_rows(df, text_col, "xxhash64(g)", 64, out_col, df.columns)


# --------------------------------------------------------------------------
# Portable-hash variants: same algorithms with a hash family that is plain
# modular arithmetic over character codes, so the ENTIRE pipeline (hash
# included) is reproducible in ANSI SQL and gets an exact DuckDB oracle.
# The xxhash64 variants above stay the production scale path (JVM-native
# hashing, 64-bit space); these prove algorithm correctness end-to-end.
# --------------------------------------------------------------------------

def _poly_hash_sql(x: str, finish: str = "h -> h") -> str:
    """31-base polynomial rolling hash of the string ``x``, mod 2^31-1 —
    h_0 = 0, h_i = (31 h_{i-1} + code(c_i)) mod p, then ``finish`` —
    one fold over the character positions.  Identical in DuckDB as
    list_reduce(list_prepend(0, codes), (h,c) -> (h*31+c) % p)."""
    return (
        f"aggregate(sequence(1, length({x})), 0L, "
        f"(h, i) -> (h * 31 + ascii(substr({x}, i, 1))) % {_P}, {finish})"
    )


def poly_hash_expr(col_name: str) -> Column:
    """:func:`_poly_hash_sql` of a string column."""
    return F.expr(_poly_hash_sql(col_name))


def simhash_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    out_col: str = "simhash16",
) -> DataFrame:
    """SimHash over the portable polynomial hash (bits ≤ 31): the
    ``(id, fingerprint)`` rows of :func:`_simhash_rows`.  Sign-sums count
    token MULTIPLICITY (classic frequency-weighted SimHash).  No
    aggregate, so the same plan runs inside a streaming micro-batch."""
    half = (bits + 1) // 2
    m = (1 << half) - 1
    lanes = f"h -> (h & {m}) | (((h >> {half}) & {m}) << 32)"
    return _simhash_rows(df, text_col, _poly_hash_sql("g", lanes), bits, out_col, [id_col])


def shingle_string_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    fan_out: bool = True,
) -> DataFrame:
    """(id, g) DISTINCT word-n-gram shingle STRING rows — the row-based
    plan of ``shingle_rows`` keeping the gram text (lead-concat instead of
    hash-combine), for hash families applied to the string itself.
    Matches the slice semantics of ``shingles`` exactly: full grams only,
    except docs shorter than n keep their single truncated gram."""
    from pyspark.sql import Window

    tok = _tok_rows(df, text_col, id_col, fan_out)
    w = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(w) for j in range(1, n)]
    g = F.concat_ws(" ", *parts)  # concat_ws skips nulls -> truncated tail grams
    cnt = F.count("*").over(Window.partitionBy(id_col))
    rows = tok.withColumn("__g", g).withColumn("__n_tok", cnt)
    full = rows.filter(
        (F.col("__pos") <= F.col("__n_tok") - n) | (F.col("__pos") == 0)
    )
    return full.select(F.col(id_col), F.col("__g").alias("g")).distinct()


def minhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """MinHash-LSH candidate pairs over the portable hash family:
    h_k(g) = (a_k · poly(g) + b_k) mod p with seeded (a_k, b_k) literals
    inlined into the plan (and into the DuckDB oracle — same constants).
    Plan: shingle strings (one linear shuffle) → poly hash per gram row →
    16 partial-agg mins → 4 band keys → band self-join → distinct pairs."""
    sig = minhash_portable_sig(df, text_col, id_col, num_hashes, shingle_n, seed)
    bandrows = minhash_band_rows(sig, id_col, num_hashes, bands)
    a = bandrows.select(F.col(id_col).alias("id_a"), "band_id", "key")
    b = bandrows.select(F.col(id_col).alias("id_b"), "band_id", "key")
    return (
        a.join(b, ["band_id", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_portable_sig(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
    fan_out: bool = True,
) -> DataFrame:
    """(id, __m0..__m{k-1}) portable minhash signature columns — the
    shared kernel behind the self-join pair finder and the cross-corpus
    fuzzy decontaminator.  ``fan_out=False`` for small arriving batches
    (see ``_tok_rows``)."""
    ex = shingle_string_rows(df, text_col, id_col, shingle_n, fan_out)
    hashed = ex.select(F.col(id_col), poly_hash_expr("g").alias("__h"))
    params = _hash_params(num_hashes, seed)
    aggs = [
        F.min((F.col("__h") * a + b) % _P).alias(f"__m{k}")
        for k, (a, b) in enumerate(params)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_id, key) LSH band rows from signature columns."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"__m{j * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("key"),
        )
        for j in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__b")
    ).select(
        id_col,
        F.col("__b.band_id").alias("band_id"),
        F.col("__b.key").alias("key"),
    )


def decontaminate_fuzzy(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """NEAR-verbatim benchmark decontamination: flag training documents
    whose estimated Jaccard similarity (fraction of agreeing minhashes)
    against ANY eval document reaches ``threshold`` — catches the
    lightly-edited leakage the exact n-gram check (``decontaminate``)
    misses.

    Returns (flagged, clean): flagged = (train id, sim_hat = max
    agreement fraction, n_eval_hits); clean = surviving train rows.

    Scale shape: the eval side is benchmark-sized, so its band rows AND
    signatures broadcast; train streams through signature build -> band
    equi-join (candidates only — never |train| x |eval|) -> one
    broadcast verify join computing the agreement fraction.  Portable
    hash family -> exact DuckDB oracle."""
    sig_t = minhash_portable_sig(
        train_df, text_col, id_col, num_hashes, shingle_n, seed
    )
    # fan_out=False: the eval side is benchmark-sized by contract (its
    # band rows and signatures broadcast below) — spreading it is pure
    # overhead (see incremental_neardup_pairs)
    sig_e = minhash_portable_sig(
        eval_df, text_col, id_col, num_hashes, shingle_n, seed, fan_out=False
    )
    bt = minhash_band_rows(sig_t, id_col, num_hashes, bands)
    be = minhash_band_rows(sig_e, id_col, num_hashes, bands).withColumnRenamed(
        id_col, "__eval_id"
    )
    cand = (
        bt.join(F.broadcast(be), ["band_id", "key"])
        .select(id_col, "__eval_id")
        .distinct()
    )
    e_renamed = sig_e.select(
        F.col(id_col).alias("__eval_id"),
        *[F.col(f"__m{k}").alias(f"__e{k}") for k in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"__m{k}") == F.col(f"__e{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    ) / float(num_hashes)
    flagged = (
        cand.join(sig_t, id_col)
        .join(F.broadcast(e_renamed), "__eval_id")
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= threshold)
        .groupBy(id_col)
        .agg(
            F.round(F.max("__agree") + 1e-9, 6).alias("sim_hat"),
            F.countDistinct("__eval_id").alias("n_eval_hits"),
        )
    )
    clean = train_df.join(flagged.select(id_col), id_col, "left_anti")
    return flagged, clean


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each normalized
    text, with dedup state bounded by the watermark
    (``dropDuplicatesWithinWatermark``) — duplicates arriving within the
    watermark horizon are dropped; state for fingerprints older than the
    horizon is evicted, so memory is bounded by the dup window, not the
    stream length.  This is the continuous-ingest face of
    ``exact_dedup``: same fingerprint (xxhash64 of the normalized text),
    micro-batch semantics instead of a corpus groupBy."""
    keyed = stream.withColumn("__fp", F.xxhash64(normalize(F.col(text_col))))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def _check_simhash_bands(bands: int | None, max_hamming: int, bits: int) -> int:
    nb = bands if bands is not None else max_hamming + 1
    if nb > bits:
        raise ValueError(f"bands={nb} exceeds fingerprint width {bits}")
    if nb < max_hamming + 1:
        # pigeonhole guarantee needs more bands than flippable bits:
        # with <= max_hamming bands a qualifying pair can differ in every
        # band and silently vanish from the candidate join
        raise ValueError(
            f"bands={nb} < max_hamming+1={max_hamming + 1}: the pigeonhole "
            "band join is only exact with at least max_hamming+1 bands"
        )
    return nb


def simhash_chunk_rows(
    fp_df: DataFrame,
    bands: int,
    bits: int,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """``(id, fp, __band, __chunk)`` pigeonhole chunk rows of a SimHash
    fingerprint frame — the join-key side of every simhash dedup variant
    (self-join pairs, incremental batch-vs-corpus, the stored index and
    its streaming twin all key on these rows).  One narrow projection +
    one posexplode; no shuffle."""
    w = bits // bands
    chunks = []
    for b in range(bands):
        width = w if b < bands - 1 else bits - w * (bands - 1)
        mask = (1 << width) - 1
        chunks.append(
            F.shiftrightunsigned(F.col(fp_col), b * w).bitwiseAND(F.lit(mask))
        )
    return fp_df.select(
        F.col(id_col),
        F.col(fp_col),
        F.posexplode(F.array(*chunks)).alias("__band", "__chunk"),
    )


def simhash_pairs(
    fp_df: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    bits: int = 64,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints by the pigeonhole
    band join (Manku/Jain/Sarma, WWW'07 — the public simhash-dedup
    construction): split each ``bits``-wide fingerprint into ``bands``
    chunks (default max_hamming+1); any pair within hamming distance
    ``max_hamming`` must agree EXACTLY on at least one chunk, so the
    candidate set is a union of ``bands`` equi-joins on (band, chunk) —
    never an all-pairs scan — and the exact hamming distance
    (bit_count of xor) verifies each candidate.  EXACT: returns precisely
    the pairs with hamming <= max_hamming.  Output (id_a, id_b, hamming).

    Scale shape: one narrow projection computes every chunk, one
    posexplode, one self-equi-join keyed on (band, chunk) — the same
    bounded-fan-out pattern as the MinHash band join; chunk values are
    hash-distributed so no hot key."""
    nb = _check_simhash_bands(bands, max_hamming, bits)
    # BOTH sides of the band self-join derive from the fingerprint rows.
    # Hashing the narrow (id, fp) rows on the id gives them one exchange
    # that both sides read (AQE reuses it, whichever join the planner
    # picks), so the scan, tokenize and fingerprint run once per action:
    # the executed simhash_neardup plan holds one documents FileScan and
    # a ReusedExchange (asserted in tests).  Without it a broadcast side
    # re-scans the input.
    fp_df = fp_df.select(id_col, fp_col).repartition(id_col)
    keyed = simhash_chunk_rows(fp_df, nb, bits, id_col, fp_col)
    l = keyed.select(
        "__band", "__chunk", F.col(id_col).alias("id_a"), F.col(fp_col).alias("__fa")
    )
    r = keyed.select(
        "__band", "__chunk", F.col(id_col).alias("id_b"), F.col(fp_col).alias("__fb")
    )
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        l.join(r, ["__band", "__chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_gate_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list -> duplicate
    CLUSTERS: (doc_id, cluster_id) with cluster_id = the minimum doc id
    reachable through the pair graph.  The step after any pairwise dedup
    stage (minhash/simhash/jaccard emit PAIRS; retention decisions need
    per-cluster representatives).

    Distributed min-label propagation with pointer jumping (the
    alternating small-star/large-star idea in its simplest DataFrame
    form): each round every node takes the min of its own label and its
    neighbors' labels, then labels compress one hop
    (lbl <- lbl(lbl)), so convergence needs O(log n) rounds rather than
    O(diameter).  Each round is two small joins over the PAIR-INVOLVED
    nodes only (a tiny fraction of the corpus); the loop stops at the
    fixpoint (a per-round count action on that small frame).

    Deterministic: min-label is unique per component.  Exact oracle:
    a recursive-CTE transitive closure computes the same min-reachable
    id in DuckDB (see plans/pipeline_queries.q_dup_clusters).

    Size gate (the similarity.py driver-prefilter pattern): the pair
    graph is orders of magnitude smaller than the corpus, and below
    ``driver_gate_edges`` distinct edges (~16 MB of longs at the 1M
    default) a driver-side union-find answers in one collect instead of
    O(log n) join rounds — each round costs 2 joins + an action of
    FIXED overhead that dwarfs the data at this size.  The gate is ONE
    action that both decides and collects: a limit-probe of
    ``driver_gate_edges // 2 + 1`` deduped directed pairs (the driver
    path runs iff ``2 * distinct_pairs <= driver_gate_edges``).  If the
    probe comes back short, it IS the pair list.  Otherwise the
    distributed loop runs unchanged (the 100 TB path; equivalence of
    the two paths is asserted in tests) over the same persisted pair
    frame: the probe's job caches every partition it computes whole,
    and any block it did not fill is computed from that cached plan on
    the loop's first action, so the pair pipeline runs once on either
    path."""
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    # Every iteration MATERIALIZES via eager localCheckpoint: the
    # min-label + pointer-jump step references the previous labels frame
    # three times, so a lazy lineage would double the logical plan per
    # round (exponential plan, OOMs Catalyst canonicalization around
    # round 6 — measured).  Checkpointing keeps each round's plan flat.
    # coalesce before each checkpoint: the label frames are pair-graph
    # sized (small next to the corpus), and materializing them as a few
    # blocks keeps the per-round fixed overhead flat.  Floor of 8 keeps
    # local runs cheap; on a real cluster defaultParallelism (executor
    # core count) sizes the loop so a billions-of-nodes pair graph never
    # serializes through 8 partitions (VERDICT r03 item #5).
    sc = pairs.sparkSession.sparkContext
    loop_parts = max(8, sc.defaultParallelism)
    # persist(), not an eager localCheckpoint, for the edge frame: a
    # localCheckpoint converts the whole upstream pair pipeline to an
    # RDD at call time (~1 s of physical planning, the r13 measurement)
    # — the persist registers the same boundary for free.  It is what
    # lets an oversize probe hand the distributed loop the pairs without
    # recomputing the fingerprint + band-join pipeline.  The per-ROUND
    # label checkpoints in the distributed loop stay localCheckpoints:
    # there the point is lineage TRUNCATION (persist leaves the logical
    # plan growing exponentially).
    # deduped DIRECTED pairs only: the driver path never needs the
    # symmetrized frame (components of the pair list == components of
    # its symmetric closure), so it collects and processes HALF the
    # rows; the distributed path symmetrizes below from this cache.
    dpairs = e.distinct().coalesce(loop_parts).persist()
    # limit-probe instead of a count() gate followed by a collect: one
    # action decides the path and, when the pairs fit, carries them
    cap = driver_gate_edges // 2
    epd = dpairs.limit(cap + 1).toPandas()  # Arrow batch transfer
    if len(epd) <= cap:
        import numpy as np
        import pandas as pd

        dpairs.unpersist()
        spark = pairs.sparkSession
        id_type = dict(e.dtypes)["u"]
        schema = f"doc_id {id_type}, cluster_id {id_type}"
        if len(epd) == 0:
            dup_components.last_rounds = 0
            return spark.createDataFrame([], schema)
        # vectorized min-label propagation + pointer jumping on index
        # arrays (the per-edge python union-find loop was ~4 s at 140k
        # pairs; this converges in O(log n) numpy rounds, ~ms each).
        # nodes is SORTED, so min reachable index == min reachable id —
        # the identical fixpoint the union-find produced.
        u = epd["u"].to_numpy()
        v = epd["v"].to_numpy()
        nodes = np.unique(np.concatenate([u, v]))
        iu = np.searchsorted(nodes, u)
        iv = np.searchsorted(nodes, v)
        lbl = np.arange(len(nodes))
        while True:
            m = lbl.copy()
            np.minimum.at(m, iu, lbl[iv])  # neighbor mins, both ways
            np.minimum.at(m, iv, lbl[iu])
            m = np.minimum(m, m[m])  # pointer jump: lbl <- lbl(lbl)
            if np.array_equal(m, lbl):
                break
            lbl = m
        dup_components.last_rounds = 0  # driver path: no join rounds
        out_pdf = pd.DataFrame(
            {"doc_id": nodes, "cluster_id": nodes[lbl]}
        )
        return spark.createDataFrame(out_pdf, schema)
    edges = (
        dpairs.unionByName(
            dpairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .coalesce(loop_parts)
        .persist()
    )
    labels = (
        edges.select("u").distinct().withColumn("lbl", F.col("u"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("lbl").alias("vlbl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlbl").alias("nlbl"))
        )
        merged = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
        )
        # pointer jump: lbl <- lbl(lbl) (label ids ARE node ids)
        jumped = (
            merged.alias("m")
            .join(
                merged.select(
                    F.col("u").alias("lbl"), F.col("lbl").alias("lbl2")
                ).alias("j"),
                "lbl",
                "left",
            )
            .select("u", F.coalesce("lbl2", "lbl").alias("lbl"))
            .coalesce(loop_parts)
            .localCheckpoint(eager=False)
        )
        # ONE job per round: the label-sum aggregate triggers the lazy
        # checkpoint materialization, and since labels only ever
        # DECREASE elementwise, an unchanged sum IS the fixpoint
        cur_sum = jumped.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = jumped
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # observability for the O(log n)-rounds guard test (and for plan
    # audits at scale): how many propagate+jump rounds ran, including
    # the final no-change round that proves the fixpoint
    dup_components.last_rounds = rounds
    # the final labels frame is checkpoint-materialized by the last
    # round's fixpoint aggregate, so the edge caches can go
    edges.unpersist()
    dpairs.unpersist()
    return labels.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff — the incremental-ingest bookkeeping step:
    classify every document id across two snapshots as ``added`` (new
    only), ``removed`` (old only), ``changed`` (both, different
    normalized-text fingerprint) or ``unchanged``.

    One full-outer join on the id with md5 fingerprints (engine-portable,
    so the whole classification oracle-replays); at 100 TB both sides
    scan once and the join keys are unique ids — no skew, no explode.
    Output (doc_id, status, old_fp, new_fp)."""
    fp = lambda c: F.md5(normalize(c).cast("binary"))  # noqa: E731
    o = old_df.select(F.col(id_col), fp(F.col(text_col)).alias("old_fp"))
    n = new_df.select(F.col(id_col), fp(F.col(text_col)).alias("new_fp"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") == F.col("new_fp"), "unchanged")
        .otherwise("changed")
    )
    return j.select(id_col, status.alias("status"), "old_fp", "new_fp")


def incremental_neardup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Incremental (new-batch vs existing-corpus) near-dup candidates —
    the daily-ingestion pattern: dedupe an arriving crawl batch against
    the standing corpus WITHOUT re-running the corpus self-join.

    Band rows of each side equi-join ACROSS sides only, so cost is one
    linear signature pass per side plus the banded join — no new x new
    pairs (dedupe the batch separately if needed), no corpus x corpus
    pairs (already settled when the corpus was built).  At 100 TB the
    corpus side's band rows are computed once and persisted/bucketed by
    (band_id, key); each daily batch then joins against the stored band
    table and appends its own rows — the signature pass over the corpus
    amortizes to zero.  Same portable hash family and band geometry as
    :func:`minhash_portable_pairs`, so the DuckDB oracle replays the
    exact constants.

    Output: ``(new_id, corpus_id)`` distinct candidate pairs."""
    # fan_out=False on the BATCH side only: the arriving batch is small
    # next to the corpus by definition, and its corpus-derived size
    # estimate would otherwise trip spread() into a pure-overhead
    # exchange (r14 A/B: -0.3..0.8 s per incremental query; the corpus
    # side keeps its spread win)
    sig_n = minhash_portable_sig(
        new_df, text_col, id_col, num_hashes, shingle_n, seed, fan_out=False
    )
    sig_c = minhash_portable_sig(corpus_df, text_col, id_col, num_hashes, shingle_n, seed)
    bn = minhash_band_rows(sig_n, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band_id", "key"
    )
    bc = minhash_band_rows(sig_c, id_col, num_hashes, bands).select(
        F.col(id_col).alias("corpus_id"), "band_id", "key"
    )
    return (
        bn.join(bc, ["band_id", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def incremental_simhash_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    bits: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """Incremental SimHash near-dup — the daily-ingestion twin of
    :func:`simhash_pairs`, completing the simhash family the way
    ``incremental_neardup_pairs`` completes MinHash: an arriving batch's
    fingerprints join the standing corpus's pigeonhole chunk rows ACROSS
    sides only (no batch self-join, no corpus self-join), and
    bit_count(xor) verifies the exact hamming distance of every
    candidate.  EXACT: returns precisely the (new, corpus) pairs within
    ``max_hamming`` (pigeonhole guarantee needs bands >= max_hamming+1,
    enforced).

    Hash family matches the pair ops: ``portable=True`` (default) uses
    :func:`simhash_portable` (bits <= 31) so the whole pipeline — hash
    included — replays in the DuckDB oracle; ``portable=False`` is the
    scale path — the 64-bit xxhash :func:`simhash` (JVM-native hashing,
    full 64-bit space; pass ``bits=64``), rows-only by design like the
    MinHash xxhash path.  At 100 TB the corpus chunk rows persist once
    bucketed by (band, chunk) (``sources/ann_store.save_simhash_index``)
    and each batch joins them with no corpus-side exchange or recompute.

    Output: ``(new_id, corpus_id, hamming)`` distinct verified pairs."""
    _check_simhash_bands(bands, max_hamming, bits)
    if portable:
        fp_col = "simhash16"
        fn = simhash_portable(new_df, text_col, id_col, bits, fp_col)
        fc = simhash_portable(corpus_df, text_col, id_col, bits, fp_col)
    else:
        fp_col = "simhash"
        fn = simhash(new_df, text_col, id_col, fp_col).select(
            id_col, fp_col
        )
        fc = simhash(corpus_df, text_col, id_col, fp_col).select(id_col, fp_col)
    kn = simhash_chunk_rows(fn, bands, bits, id_col, fp_col).select(
        "__band", "__chunk", F.col(id_col).alias("new_id"),
        F.col(fp_col).alias("__fa"),
    )
    kc = simhash_chunk_rows(fc, bands, bits, id_col, fp_col).select(
        "__band", "__chunk", F.col(id_col).alias("corpus_id"),
        F.col(fp_col).alias("__fb"),
    )
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        kn.join(kc, ["__band", "__chunk"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", "hamming")
        .distinct()
    )


def dup_span_fraction(
    df: DataFrame,
    span_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Duplicated-span fraction — the substring-level dedup metric (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): per document, the share of its ``span_n``-token windows
    (stride 1, distinct) that also occur in at least one OTHER document.
    Documents scoring high are verbatim-copy carriers even when no
    full-document dup rule fires; the standard policy is to excise or
    drop above a threshold.

    Plan: one (doc, gram) linear pass (the row-based shingle plan),
    gram document-frequency as a count over grams hashed with the
    portable polynomial family (inlined into the DuckDB oracle), one
    join back, one per-doc aggregate — everything linear in corpus
    grams; the df table is gram-hash-spread, AQE owns residual skew.

    ``portable=False`` (default) hashes grams with xxhash64 — one JVM
    call per gram; ``portable=True`` uses the polynomial family the
    DuckDB oracle replays (a per-character fold: measured ~2x the wall
    time on 20-token grams — the portability tax, paid only by the
    oracle query).  Same counts either way modulo hash collisions.

    Output: ``(id, n_spans, n_dup_spans, dup_frac)``."""
    gram_hash = poly_hash_expr("g") if portable else F.xxhash64("g")
    grams = shingle_string_rows(df, text_col, id_col, span_n).select(
        F.col(id_col), gram_hash.alias("__hg")
    )
    dfreq = grams.groupBy("__hg").agg(F.countDistinct(id_col).alias("__df"))
    return (
        grams.join(dfreq, "__hg")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum((F.col("__df") >= 2).cast("int")).cast("bigint").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("n_dup_spans") / F.col("n_spans") + F.lit(1e-9), 6
            ),
        )
    )


def excise_dup_spans(
    df: DataFrame,
    span_n: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Duplicated-span EXCISION — the removal step of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"):
    ``dup_span_fraction`` measures how much of a document is
    corpus-duplicated text; this operator actually cuts it out.  A
    ``span_n``-token window (stride 1, full windows only) is duplicated
    when it occurs in >= ``min_docs`` distinct documents; every token
    covered by at least one duplicated window is removed and the
    document is reassembled from its surviving tokens in order.
    Documents shorter than ``span_n`` tokens have no windows and pass
    through unchanged.

    Plan (all linear in corpus tokens): one posexplode pass, window
    ``lead()`` builds each position's gram, the gram-key groupBy
    computes document frequency, duplicated start positions join back
    on (id, pos), and coverage is ``max()`` over a ``span_n``-row
    trailing frame — token positions are dense, so the ROWS frame IS
    the position range.  The final per-doc reassembly groupBy shares
    the window's hash partitioning, so Catalyst reuses the exchange.
    At 100 TB nothing here is quadratic: the gram df table is
    key-spread (AQE owns residual skew) and text never self-joins.

    ``portable=False`` (default) keys grams with xxhash64 — 8-byte
    shuffle rows, a 2^-64 collision marks a span duplicated spuriously.
    ``portable=True`` keys on the gram STRING itself: exact (no
    collision false-positives) and replayed verbatim by the DuckDB
    oracle, at string-width shuffle cost — the oracle path.

    Output: ``(id, n_tokens, n_removed, clean_text)``; ``clean_text``
    is ``''`` when every token was covered."""
    key = F.col("g") if portable else F.xxhash64("g")
    starts = positioned_gram_rows(df, span_n, text_col, id_col).select(
        F.col(id_col), F.col("pos"), key.alias("__k")
    )
    dup = (
        starts.groupBy("__k")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__k")
    )
    dup_starts = starts.join(dup, "__k").select(id_col, "pos")
    return finish_excision(df, dup_starts, span_n, text_col, id_col)


def positioned_gram_rows(
    df: DataFrame,
    span_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    fan_out: bool = True,
) -> DataFrame:
    """``(id, pos, g)`` FULL-window gram rows (stride 1) via the
    window/``lead()`` plan — the positioned-gram builder shared by
    :func:`excise_dup_spans` / :func:`excise_vs_corpus`, and the batch
    reference for the streaming pure-projection twin
    (``streaming/excise.py``; equivalence asserted in tests).  Unlike
    :func:`shingle_string_rows` this keeps positions, keeps duplicates,
    and emits NO truncated gram for docs shorter than ``span_n``."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    tok = _tok_rows(df, text_col, id_col, fan_out)
    parts = [F.col("__tok")] + [
        F.lead("__tok", j).over(w) for j in range(1, span_n)
    ]
    rows = tok.select(
        F.col(id_col),
        "__pos",
        # concat_ws skips nulls -> tail positions yield truncated grams;
        # the full-window filter below drops them
        F.concat_ws(" ", *parts).alias("__g"),
        F.count("*").over(Window.partitionBy(id_col)).alias("__n"),
    )
    return rows.filter(F.col("__pos") <= F.col("__n") - span_n).select(
        F.col(id_col), F.col("__pos").alias("pos"), F.col("__g").alias("g")
    )


def finish_excision(
    df: DataFrame,
    dup_starts: DataFrame,
    span_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    fan_out: bool = True,
) -> DataFrame:
    """Excision tail shared by the batch operators and by consumers of
    the STREAMING start detector (``streaming/excise.py``): given the
    original documents and an ``(id, pos)`` frame of duplicated-span
    starts, mark every token covered by a start in the trailing
    ``span_n``-row frame (positions are dense, so the ROWS frame IS the
    position range) and reassemble each doc from its surviving tokens.
    Output: ``(id, n_tokens, n_removed, clean_text)``."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    tok = _tok_rows(df, text_col, id_col, fan_out)
    ds = dup_starts.select(
        F.col(id_col), F.col("pos").alias("__pos"), F.lit(1).alias("__ds")
    )
    covered = F.max(F.coalesce(F.col("__ds"), F.lit(0))).over(
        w.rowsBetween(-(span_n - 1), 0)
    )
    marked = tok.join(ds, [id_col, "__pos"], "left").withColumn(
        "__cov", covered
    )
    return _excise_reassemble(marked, id_col)


def _excise_reassemble(marked: DataFrame, id_col: str) -> DataFrame:
    """Shared excision tail: per-doc token/removal counts + ordered
    reassembly of the surviving tokens (``__cov`` = 1 marks removal).
    collect_list skips the nulls the ``when`` leaves for covered tokens,
    and array_sort on (pos, tok) structs restores document order."""
    return marked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("__cov").cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cov") == 0, F.struct("__pos", "__tok")
                        )
                    )
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
    )


def excise_vs_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    span_n: int = 20,
    min_docs: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Incremental duplicated-span excision — clean an ARRIVING batch
    against the STANDING corpus (the daily-ingestion shape, pairing
    ``incremental_neardup_pairs``): every batch token covered by a
    ``span_n``-token window occurring in >= ``min_docs`` CORPUS
    documents is cut, and each batch document is reassembled from its
    surviving tokens in order.  With the default ``min_docs=1`` this is
    "remove text the corpus already has" — the Lee et al. removal step
    applied incrementally instead of corpus-wide.

    No corpus self-join and no batch self-join: the corpus contributes
    only its qualifying DISTINCT gram keys (one linear pass whose
    output, like the stored MinHash band index, can be materialized
    once and reused across daily batches), the batch contributes
    positioned grams, and the two meet in one equi-join keyed on the
    gram.  Batch-internal duplication is deliberately NOT considered —
    run :func:`excise_dup_spans` on the batch for that.

    Key portability matches :func:`excise_dup_spans`: xxhash64 default,
    ``portable=True`` keys on the gram string for the DuckDB oracle.

    Output: ``(id, n_tokens, n_removed, clean_text)`` for the batch."""
    keys = corpus_gram_keys(
        corpus_df, span_n, min_docs, text_col, id_col, portable
    )
    bkey = F.col("g") if portable else F.xxhash64("g")
    # fan_out=False: new_df is the small arriving batch (see
    # incremental_neardup_pairs); the corpus gram pass keeps its spread
    starts = positioned_gram_rows(
        new_df, span_n, text_col, id_col, fan_out=False
    ).select(F.col(id_col), F.col("pos"), bkey.alias("gram_key"))
    dup_starts = starts.join(keys, "gram_key").select(id_col, "pos")
    return finish_excision(
        new_df, dup_starts, span_n, text_col, id_col, fan_out=False
    )


def corpus_gram_keys(
    corpus_df: DataFrame,
    span_n: int = 20,
    min_docs: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Distinct qualifying gram keys of the standing corpus — the
    static side of incremental span excision (one linear pass; like the
    stored MinHash band index, materialize it once per corpus and reuse
    it across daily batches or as the stream-static side of
    ``streaming/excise.py``).  Output: ``(gram_key)`` with ``gram_key``
    the gram string (``portable=True``) or its xxhash64."""
    grams = shingle_string_rows(corpus_df, text_col, id_col, span_n)
    ckey = F.col("g") if portable else F.xxhash64("g")
    return (
        grams.select(F.col(id_col), ckey.alias("gram_key"))
        .groupBy("gram_key")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("gram_key")
    )


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Best-quality representative per duplicate CLUSTER — the retention
    decision after clustering (RefinedWeb/SlimPajama keep one doc per
    near-dup cluster by a quality criterion, not by arbitrary min-id):
    connected components over ``pairs`` (:func:`dup_components`), every
    unpaired document its own singleton cluster, winner = the highest
    ``quality_col`` (lowest id on ties — deterministic).

    Scale shape: the component labels cover only PAIR-INVOLVED docs (a
    small fraction of the corpus) and join back as the small side; the
    winner is a ``max_by`` GROUPED AGGREGATE on a struct ordering key —
    map-side combinable, so even a pathological giant cluster reduces
    per-partition instead of sorting in one task (the window-rank
    formulation would not).

    Output: (cluster_id, rep_id, cluster_size, rep_quality)."""
    comp = dup_components(pairs, id_a=id_a, id_b=id_b)
    labeled = (
        df.select(F.col(id_col), F.col(quality_col))
        .join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    return labeled.groupBy("cluster_id").agg(
        F.expr(
            f"max_by({id_col}, named_struct('q', {quality_col}, 'nid', -{id_col}))"
        ).alias("rep_id"),
        F.count("*").cast("long").alias("cluster_size"),
        F.max(quality_col).alias("rep_quality"),
    )
