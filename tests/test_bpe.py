"""BPE tokenizer training/application (operators/bpe.py, r08).

The fixture is Sennrich et al. 2016's classic example corpus; the
expected merges are hand-computed (pair counts + the (count desc,
pair asc) tie-break), NOT produced by the code under test.
"""

import pandas as pd
import pytest

SENNRICH = (
    ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
)


def _docs(spark, words):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [" ".join(words)]})
    )


def test_bpe_train_matches_hand_computed_merges(spark):
    """Hand-computed on the Sennrich corpus (low*5 lower*2 newest*6
    widest*3): round-1 pair counts peak at 9 shared by (e,s) and
    (s,t</w>) -> asc tie-break picks (e,s); then (es,t</w>)=9, (l,o)=7,
    and a 6-way tie resolved to (e,w)."""
    from kats_spark.operators.bpe import bpe_train

    out = (
        bpe_train(_docs(spark, SENNRICH), num_merges=4)
        .orderBy("rank")
        .collect()
    )
    got = [(r["left"], r["right"], r["pair_count"]) for r in out]
    assert got == [
        ("e", "s", 9),
        ("es", "t</w>", 9),
        ("l", "o", 7),
        ("e", "w", 6),
    ]


def test_bpe_train_distributed_equals_driver(spark):
    """The distributed merge rounds (forced via driver_gate_words=0)
    produce the bit-identical merge table to the driver loop — same
    counts, same tie-breaks, same ranks."""
    from kats_spark.operators.bpe import bpe_train

    docs = _docs(spark, SENNRICH)
    cols = ["rank", "left", "right", "pair_count"]
    driver = bpe_train(docs, num_merges=6).orderBy("rank").toPandas()[cols]
    dist = (
        bpe_train(docs, num_merges=6, driver_gate_words=0)
        .orderBy("rank")
        .toPandas()[cols]
    )
    pd.testing.assert_frame_equal(driver, dist)


def test_bpe_train_gate_probe_job_budget(spark, sf_dir, count_jobs):
    """The vocabulary size gate is one limit-probe that decides and
    collects: the unpersisted (word, freq) table's tokenize + groupBy
    runs once, not once for a count() and again for the collect.  The
    call plus its action started 6 jobs with the count.  The declared
    row keeps that budget: the merge table already comes in rank order,
    so it adds no sort (with one, the row took 5 at sf0.001)."""
    from kats_spark.operators.bpe import bpe_train
    from kats_spark.plans.pipeline_queries import q_bpe_train
    from kats_spark.sources.load import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    with count_jobs() as jobs:
        bpe_train(docs, num_merges=20).toPandas()
    assert len(jobs) <= 4, jobs
    with count_jobs() as jobs:
        q_bpe_train(spark, sf_dir).toPandas()
    assert len(jobs) <= 4, jobs


def test_bpe_encode_stats_hand_computed(spark):
    """Encoding under the fixture's first 4 merges: low -> [lo, w</w>]
    (2), lower -> [lo, w, e, r</w>] (4), newest -> [n, ew, est</w>]
    (3)."""
    from kats_spark.operators.bpe import bpe_encode_stats

    merges = [("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w")]
    df = _docs(spark, ["low", "lower", "newest"])
    row = bpe_encode_stats(df, merges).collect()[0]
    assert row["n_words"] == 3
    assert row["n_bpe_tokens"] == 2 + 4 + 3


def test_ks_drift_hand_computed(spark):
    """Two-sample KS on a hand-computable split: before {1,2,3,4},
    after {3,4,5,6} -> the ECDF gap peaks at 0.5 (at values 2 and 4)."""
    from kats_spark.operators.dist_distance import ks_drift

    rows = [("s", f"2024-01-0{i}", float(v)) for i, v in enumerate([1, 2, 3, 4], 1)]
    rows += [("s", f"2024-01-2{i}", float(v)) for i, v in enumerate([3, 4, 5, 6], 1)]
    df = spark.createDataFrame(rows, "series_id string, time string, value double")
    df = df.withColumn("time", df.time.cast("timestamp"))
    out = ks_drift(df, "2024-01-16 00:00:00").collect()[0]
    assert out["n_before"] == 4 and out["n_after"] == 4
    assert abs(out["ks_stat"] - 0.5) < 1e-6
    # ne = 2 -> lambda = (sqrt(2) + .12 + .11/sqrt(2)) * .5
    import math

    sne = math.sqrt(2.0)
    assert abs(out["ks_lambda"] - (sne + 0.12 + 0.11 / sne) * 0.5) < 1e-5


def test_gopher_rules_each_rule_fires(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) flips on a crafted doc
    violating exactly it, and a clean doc passes all six."""
    from kats_spark.operators.text import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog and that have with be to of"]
        * 5
    )  # 75 words, mean len ~3.5, stops present, alpha, no symbols
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                good,                                     # passes
                "short doc",                              # r_wordcount
                " ".join(["ab"] * 60),                    # r_meanlen (mean 2)
                good + " " + " ".join(["#"] * 20),        # r_symbol
                " ".join(["12345"] * 30 + ["the", "be", "okay"] * 10),  # r_alpha
                " ".join(["neutral words only here"] * 20),  # r_stop (no 2 stops)
            ],
        }
    )
    out = (
        gopher_rules(spark.createDataFrame(docs))
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out.loc[0, "gopher_pass"])
    assert not bool(out.loc[1, "r_wordcount"])
    assert not bool(out.loc[2, "r_meanlen"])
    assert not bool(out.loc[3, "r_symbol"])
    assert not bool(out.loc[4, "r_alpha"])
    assert not bool(out.loc[5, "r_stop"])
    for i in (1, 2, 3, 4, 5):
        assert not bool(out.loc[i, "gopher_pass"])


def test_ks_drift_value_sharded_equals_naive(spark):
    """The value-range-sharded exact decomposition (the 100 TB knob for
    continuous metrics) is bit-identical to the single-window plan —
    random data with ties, several keys, 16 and 64 shards."""
    import numpy as np

    from kats_spark.operators.dist_distance import ks_drift

    rng = np.random.default_rng(17)
    n = 3000
    pdf = pd.DataFrame(
        {
            "series_id": rng.choice(["a", "b", "c"], n),
            "time": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 40 * 86400, n), unit="s"),
            "value": np.round(rng.normal(50, 20, n), 1),  # rounding -> ties
        }
    )
    df = spark.createDataFrame(pdf)
    cols = ["series_id", "n_before", "n_after", "ks_stat", "ks_lambda"]

    def run(**kw):
        return (
            ks_drift(df, "2024-01-20 00:00:00", **kw)
            .toPandas()
            .sort_values("series_id")
            .reset_index(drop=True)[cols]
        )

    naive = run()
    assert len(naive) == 3
    for shards in (16, 64):
        pd.testing.assert_frame_equal(run(value_shards=shards), naive)
