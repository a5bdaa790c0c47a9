"""DSIR importance resampling + source-overlap profiler contracts.

The weight arithmetic is replayed in pure Python on a hand-built corpus
(the oracle-parity suite separately replays the full pipeline in DuckDB
at sf0.001); the resampler is pinned on determinism and its Gumbel
top-n contract; the overlap estimator on its two exact fixed points
(identical groups -> 1, disjoint-vocabulary groups -> ~0).
"""

import pytest

from pyspark.sql import functions as F

import hashlib


def _md5_48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _feats(text: str) -> list[str]:
    toks = text.lower().split()
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _expected_weights(raw: dict[int, str], target_ids: set[int], buckets: int, alpha: float):
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    per_doc: dict[int, list[int]] = {}
    for did, text in raw.items():
        bs = [_md5_48(f) % buckets for f in _feats(text)]
        per_doc[did] = bs
        for b in bs:
            cr[b] = cr.get(b, 0) + 1
            if did in target_ids:
                ct[b] = ct.get(b, 0) + 1
    import math

    tr, tt = sum(cr.values()), sum(ct.values())
    out = {}
    for did, bs in per_doc.items():
        w = sum(
            math.log((ct.get(b, 0) + alpha) / (tt + alpha * buckets))
            - math.log((cr.get(b, 0) + alpha) / (tr + alpha * buckets))
            for b in bs
        )
        out[did] = (len(bs), w)
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark shuffles the big table", "en", "web"),
        (1, "spark shuffles the small table", "en", "web"),
        (2, "loess smooths the seasonal series", "en", "books"),
        (3, "gradient descent minimizes the loss", "en", "books"),
        (4, "spark broadcasts the small table", "en", "web"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_dsir_weights_match_hand_computation(corpus):
    from kats_spark.operators.dsir import dsir_weights

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    got = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_weights(corpus, target, num_buckets=64, alpha=1.0).collect()
    }
    exp = _expected_weights(
        {r.doc_id: r.text for r in corpus.collect()}, {0, 1}, 64, 1.0
    )
    assert set(got) == set(exp)
    for did, (n, w) in exp.items():
        assert got[did][0] == n
        assert got[did][1] == pytest.approx(w, rel=1e-9)


def test_dsir_weights_rank_target_like_docs_higher(corpus):
    """Docs sharing the target's vocabulary outrank the off-domain doc."""
    from kats_spark.operators.dsir import dsir_weights

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    w = {r.doc_id: r.log_weight for r in dsir_weights(corpus, target, num_buckets=256).collect()}
    # doc 4 shares 'spark ... the small table' with the target; doc 3 is disjoint
    assert w[4] > w[3]
    assert w[0] > w[3] and w[1] > w[3]


def test_dsir_resample_deterministic_and_bounded(corpus):
    from kats_spark.operators.dsir import dsir_resample

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    a = dsir_resample(corpus, target, n=3, seed=11, num_buckets=64)
    b = dsir_resample(corpus, target, n=3, seed=11, num_buckets=64)
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 3
    # payload columns reattach
    assert {"text", "lang", "source"}.issubset(set(a.columns))
    # a different seed is allowed to pick a different set, but stays bounded
    c = dsir_resample(corpus, target, n=3, seed=12, num_buckets=64)
    assert c.count() == 3


def test_source_overlap_fixed_points(spark):
    from kats_spark.operators.dsir import source_overlap

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "s1"),
        (1, "alpha beta gamma delta epsilon zeta", "s2"),
        (2, "uno dos tres cuatro cinco seis", "s3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r.source_a, r.source_b): r.est_jaccard
        for r in source_overlap(df, num_hashes=32).collect()
    }
    assert got[("s1", "s2")] == 1.0  # identical shingle sets agree on every min
    assert got[("s1", "s3")] <= 1 / 32 + 1e-9  # disjoint vocab: no agreement expected
    assert got[("s2", "s3")] <= 1 / 32 + 1e-9


def test_dsir_stored_matches_batch_on_fitting_corpus(corpus, spark, tmp_path):
    """Scoring the fitting corpus against its own saved dense ratio
    table reproduces dsir_weights exactly (every bucket is seen)."""
    from kats_spark.operators.dsir import dsir_weights
    from kats_spark.sources.ann_store import dsir_weights_stored, save_dsir_ratio

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    path = str(tmp_path / "ratio")
    save_dsir_ratio(corpus, target, path, num_buckets=64)
    stored = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_weights_stored(spark, path, corpus, num_buckets=64).collect()
    }
    batch = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_weights(corpus, target, num_buckets=64).collect()
    }
    assert set(stored) == set(batch)
    for did in batch:
        assert stored[did][0] == batch[did][0]
        assert stored[did][1] == pytest.approx(batch[did][1], rel=1e-12)


def test_dsir_stored_scores_unseen_vocabulary(corpus, spark, tmp_path):
    """A batch with vocabulary absent from the fitting corpora still
    scores: dense rows carry the pure-smoothing ratio (equal target and
    raw smoothing -> ln(tr+aB)-ln(tt+aB) per unseen occurrence)."""
    import math

    from kats_spark.sources.ann_store import dsir_weights_stored, save_dsir_ratio

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    path = str(tmp_path / "ratio")
    save_dsir_ratio(corpus, target, path, num_buckets=64)
    novel = corpus.sparkSession.createDataFrame(
        [(99, "zzqx vvwk pppy", "en", "web")], ["doc_id", "text", "lang", "source"]
    )
    rows = dsir_weights_stored(spark, path, novel, num_buckets=64).collect()
    assert len(rows) == 1 and rows[0].n_feats == 5  # 3 unigrams + 2 bigrams
    # all-unseen doc weight = n_feats * default ratio (up to real collisions
    # with fitted buckets, which this vocabulary avoids at 64 buckets only
    # probabilistically — so allow a loose band around the default)
    tr = sum(len(t.split()) * 2 - 1 for t in
             [r.text for r in corpus.collect()])
    tt = sum(len(t.split()) * 2 - 1 for t in
             [r.text for r in target.collect()])
    default = math.log(1.0 / (tt + 64.0)) - math.log(1.0 / (tr + 64.0))
    assert rows[0].log_weight == pytest.approx(5 * default, rel=0.35)


def test_dsir_stored_rejects_bucket_mismatch(corpus, spark, tmp_path):
    from kats_spark.sources.ann_store import dsir_weights_stored, save_dsir_ratio

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    path = str(tmp_path / "ratio")
    save_dsir_ratio(corpus, target, path, num_buckets=64)
    with pytest.raises(ValueError, match="64 buckets"):
        dsir_weights_stored(spark, path, corpus, num_buckets=128)


def test_q_dsir_stored_call_starts_no_job_on_current_table(spark, sf_dir, count_jobs):
    """On a current stored ratio table the call only plans: the table's
    schema and its bucket count come from the parquet footers, so no
    schema-inference job and no ``count()`` run before the action."""
    import __spark_entry__ as entry

    q = entry.queries()["dsir_stored"]
    q(spark, sf_dir)  # builds the stored table if it is stale
    with count_jobs() as jobs:
        q(spark, sf_dir)
    assert jobs == []


def test_dsir_weights_partition_invariant(corpus):
    """Weights are a pure function of the data: repartitioning the
    corpus changes nothing (summation-order differences stay inside
    1e-12 relative)."""
    from kats_spark.operators.dsir import dsir_weights

    target = corpus.filter(F.col("doc_id").isin(0, 1))
    a = {r.doc_id: r.log_weight
         for r in dsir_weights(corpus, target, num_buckets=64).collect()}
    b = {r.doc_id: r.log_weight
         for r in dsir_weights(corpus.repartition(7), target, num_buckets=64).collect()}
    assert set(a) == set(b)
    for k in a:
        assert b[k] == pytest.approx(a[k], rel=1e-12)


def test_mixture_fit_recovers_known_mixture(spark):
    """Disjoint-vocabulary sources with a target built as an exact
    0.6/0.4 blend of two of them: the simplex least-squares recovers
    the proportions and zeroes the absent source."""
    from kats_spark.operators.dsir import mixture_fit

    def doc(i, word, n, src):
        return (i, " ".join([word] * n), "en", src)

    raw = spark.createDataFrame(
        [doc(0, "aa", 50, "s1"), doc(1, "bb", 50, "s2"), doc(2, "cc", 50, "s3")],
        ["doc_id", "text", "lang", "source"],
    )
    # separate pure docs so the target distribution is EXACTLY
    # 0.6 * P_s1 + 0.4 * P_s2 (no cross-source bigrams)
    target = spark.createDataFrame(
        [doc(10, "aa", 60, "t"), doc(11, "bb", 40, "t")],
        ["doc_id", "text", "lang", "source"],
    )
    w = dict(mixture_fit(raw, target, num_buckets=256))
    assert set(w) == {"s1", "s2", "s3"}
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert all(v >= 0 for v in w.values())
    assert w["s1"] == pytest.approx(0.6, abs=1e-3)
    assert w["s2"] == pytest.approx(0.4, abs=1e-3)
    assert w["s3"] == pytest.approx(0.0, abs=1e-3)


def test_mixture_fit_deterministic(spark):
    from kats_spark.operators.dsir import mixture_fit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tgt = docs.filter(F.col("lang") == "zh")
    a = mixture_fit(docs, tgt, num_buckets=256)
    b = mixture_fit(docs, tgt, num_buckets=256)
    assert a == b
    assert abs(sum(v for _, v in a) - 1.0) < 1e-9


def test_bitext_margin_demotes_hubs(spark):
    """The ratio margin picks the unique true match over a hub vector
    that is moderately similar to EVERY source (raw cosine alone would
    tie-break toward the hub for weak sources)."""
    import numpy as np

    from kats_spark.operators.similarity import bitext_margin_pairs

    rng = np.random.default_rng(5)
    d = 8
    x1 = rng.normal(size=d); x1 /= np.linalg.norm(x1)
    x2 = rng.normal(size=d); x2 /= np.linalg.norm(x2)
    hub = (x1 + x2) / np.linalg.norm(x1 + x2)  # similar to both sources
    y1 = x1 + rng.normal(size=d) * 0.05        # unique true match of x1
    noise = rng.normal(size=d)
    xs = spark.createDataFrame(
        [(0, [float(v) for v in x1]), (1, [float(v) for v in x2])],
        ["vec_id", "embedding"],
    )
    ys = spark.createDataFrame(
        [
            (10, [float(v) for v in y1]),
            (11, [float(v) for v in hub]),
            (12, [float(v) for v in noise]),
        ],
        ["vec_id", "embedding"],
    )
    got = {r.x_id: r.y_id for r in
           bitext_margin_pairs(xs, ys, k=2, threshold=0.0).collect()}
    assert got[0] == 10  # the unique match beats the hub for x1
    # a threshold above every margin empties the output
    assert bitext_margin_pairs(xs, ys, k=2, threshold=10.0).count() == 0


def test_quantize_int8_reconstruction_bound(spark):
    """Dequantized values sit within scale/2 of the original per
    element, and every code is inside [-127, 127]."""
    import numpy as np

    from kats_spark.operators.similarity import quantize_int8_rows

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = quantize_int8_rows(emb).collect()
    orig = {r.vec_id: np.array(r.embedding, float) for r in emb.collect()}
    assert len(rows) == sum(len(v) for v in orig.values())
    for r in rows:
        assert -127 <= r.q <= 127
        x = orig[r.vec_id][r.pos]
        assert abs(r.q * r.scale - x) <= r.scale / 2 + 1e-12


def test_stored_fingerprint_staleness_guard(corpus, spark, tmp_path):
    """The stored-table reuse gate keys on a CONTENT fingerprint of the
    source parquet (ADVICE r09): same content -> current (no rebuild),
    regenerated different content -> stale (refresh)."""
    from kats_spark.sources.ann_store import (
        mark_stored,
        source_fingerprint,
        stored_is_current,
    )

    src = str(tmp_path / "src.parquet")
    corpus.toPandas().to_parquet(src)
    store = tmp_path / "store"
    store.mkdir()
    fp = source_fingerprint(src)
    assert not stored_is_current(str(store), fp)  # never marked
    mark_stored(str(store), fp)
    assert stored_is_current(str(store), source_fingerprint(src))
    # regenerate the source with different contents -> stale
    corpus.toPandas().assign(text=lambda d: d.text + " drifted").to_parquet(src)
    assert not stored_is_current(str(store), source_fingerprint(src))
