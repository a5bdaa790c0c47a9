"""Byte-pair-encoding tokenizer TRAINING and application on Spark.

Not in the reference (Kats is numeric-only); a first-class
training-data-pipeline extension: the corpus-statistics half of
tokenizer construction (Sennrich et al. 2016, ACL — "Neural Machine
Translation of Rare Words with Subword Units", the public BPE
construction all modern LLM tokenizers descend from).

Scale shape: classic BPE training never needs the corpus after ONE
linear pass — it operates on the (distinct word, frequency) table,
which is vocabulary-sized, not corpus-sized.  That pass is a tokenize +
groupBy; after it:

- vocabularies under ``driver_gate_words`` collect and train in tight
  Python dicts on the driver (the dup_components size-gate pattern —
  at 100 TB a deduplicated word-frequency table is typically tens of
  millions of rows, a few GB; the gate keeps the honest bound), and
- larger ones run DISTRIBUTED merge rounds: each round one adjacent-
  pair count (groupBy + sum(freq) over the words' symbol arrays), one
  1-row argmax collect, and one merge pass over ONLY the words that
  contain the winning pair (an exists() prefilter — a shrinking
  fraction of the vocabulary).  Both paths produce bit-identical merge
  tables (same (count desc, pair asc) tie-break; asserted in tests).

Word representation follows Sennrich exactly: characters, with the
end-of-word marker ``</w>`` appended to the final character, so merges
can't cross word boundaries and learned units distinguish suffixes
("est</w>") from infixes ("est").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kats_spark.operators.dedup import normalize
from kats_spark.operators.text import tokens

EOW = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, freq) over the normalized corpus — the ONE corpus-sized
    pass of BPE training; everything after operates on this
    vocabulary-sized frame."""
    tok = df.select(F.explode(tokens(normalize(F.col(text_col)))).alias("word"))
    return tok.groupBy("word").agg(F.count("*").alias("freq"))


def _symbols_col(word: Column) -> Column:
    """Character symbols with the Sennrich end-of-word marker fused to
    the last character."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, F.greatest(n - 1, F.lit(0))),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )


def _train_driver(rows: list, num_merges: int) -> list[tuple]:
    """Classic in-memory BPE over a (word, freq) list — the exact
    Sennrich loop with the (count desc, pair asc) tie-break."""
    vocab: dict[tuple, int] = {}
    for word, freq in rows:
        syms = tuple(word[:-1]) + (word[-1] + EOW,) if word else ()
        if syms:
            vocab[syms] = vocab.get(syms, 0) + freq
    merges: list[tuple] = []
    for rank in range(num_merges):
        counts: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        merges.append((rank, l, r, c))
        fused = l + r
        new_vocab: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + freq
        vocab = new_vocab
    return merges


def bpe_train(
    df: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    driver_gate_words: int = 1_000_000,
) -> DataFrame:
    """Learn the top ``num_merges`` BPE merges of the corpus.  Output:
    ``(rank, left, right, pair_count)`` — deterministic ((count desc,
    pair asc) tie-break, so re-runs over the same snapshot reproduce
    the identical tokenizer).

    Iterative (each merge depends on the previous) -> rows-only; the
    driver==distributed equivalence and a hand-computed fixture carry
    correctness in tests."""
    spark = df.sparkSession
    wf = word_frequencies(df, text_col, id_col)
    # limit-probe, not count() then collect(): wf is not persisted, so
    # each action runs the corpus-sized tokenize + groupBy.  One action
    # decides the path and, when the vocabulary fits, is the table
    probe = wf.limit(driver_gate_words + 1).collect()
    if len(probe) <= driver_gate_words:
        rows = [(r["word"], r["freq"]) for r in probe]
        merges = _train_driver(rows, num_merges)
        schema = "rank int, left string, right string, pair_count bigint"
        if not merges:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(merges, schema)
    return _train_distributed(wf, num_merges)


def _train_distributed(wf: DataFrame, num_merges: int) -> DataFrame:
    """Distributed merge rounds over the persisted symbol table.  Each
    round: adjacent-pair count (zip_with over the bound symbol array,
    explode, groupBy sum(freq)), a 1-row argmax collect, and a
    mapInPandas merge over ONLY the pair-containing words."""
    from pyspark import StorageLevel

    spark = wf.sparkSession
    cur = wf.select(
        _symbols_col(F.col("word")).alias("s"), "freq"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    merges: list[tuple] = []
    try:
        for rank in range(num_merges):
            pairs = cur.select(
                F.explode(
                    F.zip_with(
                        F.slice("s", 1, F.greatest(F.size("s") - 1, F.lit(0))),
                        F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "freq",
            )
            top = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((rank, l, r, c))
            has = F.exists(
                F.zip_with(
                    F.slice("s", 1, F.greatest(F.size("s") - 1, F.lit(0))),
                    F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0))),
                    lambda a, b: (a == F.lit(l)) & (b == F.lit(r)),
                ),
                lambda x: x,
            )
            hit = cur.filter(has)
            miss = cur.filter(~has)

            def merge_syms(it, _l=l, _r=r):
                fused = _l + _r
                for pdf in it:
                    out = []
                    for syms in pdf["s"]:
                        res, i = [], 0
                        while i < len(syms):
                            if (
                                i < len(syms) - 1
                                and syms[i] == _l
                                and syms[i + 1] == _r
                            ):
                                res.append(fused)
                                i += 2
                            else:
                                res.append(syms[i])
                                i += 1
                        out.append(res)
                    pdf = pdf.assign(s=out)
                    yield pdf

            merged = hit.mapInPandas(merge_syms, cur.schema)
            nxt = miss.unionByName(merged).persist(StorageLevel.MEMORY_AND_DISK)
            nxt.count()  # materialize before dropping the parent
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    schema = "rank int, left string, right string, pair_count bigint"
    if not merges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(merges, schema)


#: Symbol-wrapper delimiter for :func:`bpe_encode_expr`.  \\x1f (unit
#: separator) is not regex-``\\s`` in Java or RE2, so :func:`normalize`
#: leaves it alone in both engines; it is assumed absent from corpus
#: text (a C0 control char).
SYM_D = "\x1f"


def bpe_encode_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Token count of one word under a FIXED merge list, as a pure
    column expression.  Each symbol is wrapped in \\x1f delimiters
    (``\\x1fa\\x1f \\x1fb\\x1f ...``) and each merge in rank order is one
    literal ``replace('\\x1fl\\x1f \\x1fr\\x1f' -> '\\x1flr\\x1f')``.
    The wrapper makes plain string replace EXACTLY greedy
    left-to-right BPE: the pattern consumes only the two symbols and
    the space between them — not the flanking separators — so adjacent
    occurrences of the same merge ('a a a a a' under (a,a)) never
    overlap and all merge left-to-right in one pass, matching
    Sennrich's apply loop and ``_train_driver``'s merge_syms.  Literal
    merges mean the identical chain replays in the DuckDB oracle
    (plain ``replace`` has the same leftmost-non-overlapping scan in
    both engines)."""
    chars = F.split(word, "")
    n = F.size(chars)
    syms = F.concat(
        F.slice(chars, 1, F.greatest(n - 1, F.lit(0))),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )
    wrapped = F.transform(
        syms, lambda c: F.concat(F.lit(SYM_D), c, F.lit(SYM_D))
    )
    s = F.array_join(wrapped, " ")
    for l, r in merges:
        s = F.replace(
            s,
            F.lit(f"{SYM_D}{l}{SYM_D} {SYM_D}{r}{SYM_D}"),
            F.lit(f"{SYM_D}{l}{r}{SYM_D}"),
        )
    return F.size(F.split(s, " "))


def bpe_encode_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token count under a fixed merge list —
    the budget-accounting view a trained tokenizer feeds (sequence
    packing, token-budget sampling use counts, not token ids).  One
    explode + groupBy; the merge chain runs per DISTINCT word via an
    intra-plan aggregation, so long documents don't multiply the
    replace-chain cost."""
    words = df.select(
        F.col(id_col), F.explode(tokens(normalize(F.col(text_col)))).alias("w")
    )
    per_word = words.groupBy(id_col, "w").agg(F.count("*").alias("n"))
    cnt = bpe_encode_expr(F.col("w"), merges)
    return (
        per_word.withColumn("toks", cnt)
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("toks")).cast("bigint").alias("n_bpe_tokens"),
        )
    )
