"""The row-local per-document kernels: SimHash (portable and xxhash64),
feature-hashing embeddings and trigram language ID.  Each document is
computed in its own row, so the plans hold no explode, no aggregate, no
join and no hash exchange; the values equal a pure-Python reference on
edge documents, the DuckDB oracles, and the explode-and-regroup plan the
kernels replaced."""

import math
import re

import pytest
from pyspark.sql import functions as F

from kats_spark.operators import dedup, text

SF = "/root/testdata/sf0.001"
_P = 2147483647

EDGE_DOCS = [
    (1, ""),
    (2, "   \t\n  "),
    (3, None),
    (4, "hello"),
    (5, "a a a b a"),
    (6, "Naïve café  Über straße\tdéjà vu"),
    (7, "日本語 テキスト 𝒜𝒜 𝒜b ελληνικά кириллица"),
    (8, "The quick brown fox jumps over the lazy dog " * 40),
    (9, "  x  "),
]

# Java's \s, which Spark's split and regexp_replace use (Python's is wider)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _tokens(s, normalize=True):
    if s is None:
        return []
    if normalize:
        s = _WS.sub(" ", s.strip(" ")).lower()
    else:
        s = s.lower()
    return [t for t in _WS.split(s.strip(" ")) if t]


def _poly(t):
    h = 0
    for ch in t:
        h = (h * 31 + ord(ch)) % _P
    return h


def _signsum(hashes, bits):
    fp = 0
    for b in range(bits):
        if sum(1 if (h >> b) & 1 else -1 for h in hashes) > 0:
            fp |= 1 << b
    return fp - (1 << 64) if fp >= 1 << 63 else fp


@pytest.mark.parametrize("bits", [16, 24, 31])
def test_simhash_portable_edge_documents_match_python(edge, bits):
    got = dict(dedup.simhash_portable(edge, bits=bits, out_col="fp").collect())
    want = {
        i: _signsum([_poly(t) for t in _tokens(s)], bits)
        for i, s in EDGE_DOCS
        if _tokens(s)
    }
    assert got == want


def test_simhash_xxhash_edge_documents_match_token_signsums(spark, edge):
    """The 64-bit kernel folds the same xxhash64 token hashes as a
    per-token reference (the hashes come from Spark; the fold is Python),
    keeps every input column and drops token-less rows."""
    toks = edge.select(
        "doc_id", F.explode(text.tokens(dedup.normalize(F.col("text")))).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    per_doc = {}
    for r in toks.collect():
        per_doc.setdefault(r.doc_id, []).append(r.h)
    out = dedup.simhash(edge)
    assert out.columns == ["doc_id", "text", "simhash"]
    got = {r.doc_id: r.simhash for r in out.collect()}
    assert got == {i: _signsum(hs, 64) for i, hs in per_doc.items()}


def test_hash_embed_edge_documents_match_python(edge):
    dim = 16
    got = {r.doc_id: r for r in text.hash_embed(edge, dim=dim).collect()}
    want = {}
    for i, s in EDGE_DOCS:
        toks = _tokens(s, normalize=False)
        if not toks:
            continue
        w = [0.0] * dim
        for t in toks:
            h = _poly(t)
            w[h % dim] += 1.0 if h & 256 else -1.0
        nm = math.sqrt(sum(x * x for x in w))
        want[i] = (len(toks), [x / max(nm, 1e-12) for x in w])
    assert sorted(got) == sorted(want)
    for i, (n, vec) in want.items():
        assert got[i].n_tokens == n
        assert got[i].embedding == pytest.approx(vec, abs=2e-6)


def test_lang_id_ngram_edge_documents_match_python(edge):
    prof = text.char_ngram_profiles()
    got = {
        r.doc_id: (r.lang_pred_ng, r.lang_score_ng) for r in text.lang_id_ngram(edge).collect()
    }
    want = {}
    for i, s in EDGE_DOCS:
        grams = text._char_trigrams(s or "")
        nt = max(len(grams), 1)
        scores = {}
        for lang, gw in prof.items():
            w = dict(gw)
            hit = [w[g] for g in grams if g in w]
            if hit:
                scores[lang] = round(sum(hit) / nt, 9)
        if scores:
            score, lang = max((v, k) for k, v in scores.items())
            want[i] = (lang if score >= 0.007 else "unknown", round(score + 1e-9, 6))
        else:
            want[i] = ("unknown", 0.0)
    assert got.keys() == want.keys()
    for i in want:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert got[i][1] == pytest.approx(want[i][1], abs=1.5e-6)


@pytest.mark.parametrize(
    "name", ["simhash_portable", "simhash_neardup", "dup_clusters", "hash_embed", "lang_id_ngram"]
)
def test_kernel_queries_match_their_oracles(spark, name):
    import __spark_entry__ as entry
    from kats_spark.plans.harness import compare, duck_run

    ok, msg = compare(entry.queries()[name](spark, SF), duck_run(entry.oracle_sql()[name], SF))
    assert ok, msg


def _regroup_simhash(docs, hash_sql, bits):
    """The plan the kernels replaced: explode the tokens, hash them, and
    regroup on the id with one ±1 sum per bit."""
    terms = " + ".join(
        f"shiftleft(CAST(sum(IF((h >> {b}) & 1 = 1, 1, -1)) > 0 AS BIGINT), {b})"
        for b in range(bits)
    )
    tok = docs.select("doc_id", F.explode(text.tokens(dedup.normalize(F.col("text")))).alias("t"))
    return tok.selectExpr("doc_id", f"{hash_sql} AS h").groupBy("doc_id").agg(
        F.expr(f"CAST(0 AS BIGINT) + {terms}").alias("fp")
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_simhash_equals_the_explode_regroup_plan(spark, sf):
    """No oracle covers the xxhash64 fingerprint; it stays bit-identical
    to the explode + groupBy plan it replaced (and so does the 24-bit
    portable one) on every scale factor."""
    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet").select("doc_id", "text")
    cases = [
        (dedup.simhash(docs, out_col="fp").select("doc_id", "fp"), "xxhash64(t)", 64),
        (dedup.simhash_portable(docs, bits=24, out_col="fp"), dedup._poly_hash_sql("t"), 24),
    ]
    for got, hash_sql, bits in cases:
        want = _regroup_simhash(docs, hash_sql, bits)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _plan_shape(df):
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    return opt, final


@pytest.mark.parametrize(
    "build, tokenizer",
    [
        (lambda d: dedup.simhash_portable(d, bits=24), "split("),
        (lambda d: dedup.simhash(d), "split("),
        (lambda d: text.hash_embed(d), "split("),
        (lambda d: text.lang_id_ngram(d), "regexp_extract_all("),
    ],
    ids=["simhash_portable", "simhash", "hash_embed", "lang_id_ngram"],
)
def test_kernel_plans_are_row_local(spark, build, tokenizer):
    """No explode, no aggregate, no join and no exchange, and each
    document is tokenized once: no filter pushed below the staging
    re-runs it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt, final = _plan_shape(build(docs))
    assert opt.count(tokenizer) == 1, opt
    for node in ("Generate", "Aggregate", "Join"):
        assert node not in opt, (node, opt)
    assert "Exchange" not in final, final


def test_kernel_runs_one_job_without_a_shuffle(spark, count_jobs):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fp = dedup.simhash_portable(docs, bits=24)
    with count_jobs() as jobs:
        fp.collect()
    assert len(jobs) == 1, jobs
    final = fp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in final, final


def test_simhash_pairs_reads_one_id_exchange_on_both_sides(spark):
    """The (id, fingerprint) rows are hashed on the id once, and both sides
    of the band self-join read that exchange: the fingerprint kernel runs
    in one subtree."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedup.simhash_pairs(
        dedup.simhash_portable(docs, bits=24), max_hamming=1, bands=2, bits=24,
        fp_col="simhash16",
    )
    _, final = _plan_shape(pairs)
    assert "hashpartitioning(doc_id" in final, final
    assert "ReusedExchange" in final, final
    assert final.count("FileScan parquet") == 1, final
