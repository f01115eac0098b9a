"""Byte-pair-encoding tokenizer — trained ON the corpus, distributed.

Sennrich/Haddow/Birch, "Neural Machine Translation of Rare Words with
Subword Units" (ACL 2016): learn ``n_merges`` symbol-pair merges from word
frequencies, then tokenize by greedily applying merges in learned order
(the GPT-2 ``bpe()`` loop). The engine's other token counters (q7's
whitespace split, q29's regex piece classes) approximate tokenizer load;
this is the real thing — the unit every packing/budgeting operator
(q40/q41) meters at training time.

Training is the textbook iterative algorithm expressed Spark-first:

  * the corpus collapses ONCE to a (word, count) table — the only
    data-sized shuffle; everything after runs on the distinct-word table
    (vocabulary-sized, ~1e6-1e8 rows at 100 TB — cluster-sized, never
    driver-sized);
  * each of the ``n_merges`` rounds is: explode adjacent symbol pairs →
    weighted count → take the 1 global argmax row (ties broken
    lexicographically, so training is deterministic) → apply that merge
    to the symbol column. The argmax is the one acceptable driver-side
    row per round; the merge application is an Arrow-batched Pandas stage
    (adjacent-pair rewriting is genuinely sequential per word — the
    documented exception to the JVM-only rule);
  * lineage is cut with an eager ``localCheckpoint`` each round — 50
    chained rounds would otherwise stack 100+ plan nodes.

At real scale you train on a sampled slice (BPE statistics saturate long
before 100 TB: pass ``docs.sample(...)``) and broadcast the finished merge
list (50k pairs, ~MB) to the encode stage, which is map-only.

Encoding memoizes per distinct word (an ``lru_cache`` inside the Arrow
batch worker) — corpus word frequency follows Zipf, so the greedy loop
runs once per distinct word, not once per occurrence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.util import local_frame

#: End-of-word sentinel appended to every word's symbol sequence so merges
#: can distinguish word-final contexts ("est</w>" vs mid-word "est").
EOW = "</w>"


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    vocab: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns them in
    learned (priority) order. Deterministic: the argmax pair breaks
    frequency ties lexicographically.

    ``vocab`` (round 16 — the q119 -> BPE composition) is the
    tokenizer-prep pre-filter: a top-K vocabulary from
    ``operators/vocab.build_vocab`` (any frame with a ``token`` column).
    When given, training statistics restrict to words IN the vocabulary
    — the long tail (hapaxes, OCR junk, boilerplate ids) cannot vote on
    merges, and every per-round pair explode runs over at most K rows
    regardless of how the corpus's distinct-word count grows: the knob
    that keeps the merge loop's working set CONSTANT at 100 TB. With K
    >= the corpus's distinct word count the restriction is a no-op and
    training is byte-identical to the unfiltered run (the pytest
    composition gate pins both directions). The vocabulary broadcasts;
    encoding is unchanged — an out-of-vocab word still tokenizes
    through whatever merges apply to it."""
    words = _word_counts(df, text_col)
    if vocab is not None:
        words = words.join(
            F.broadcast(vocab.select(F.col("token").alias("word"))),
            "word",
            "left_semi",
        )
    words = words.withColumn(
        "syms",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ),
    )
    words = words.select("syms", "cnt").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = words.select(
            F.explode(
                F.expr(
                    "transform(slice(syms, 1, size(syms) - 1),"
                    " (s, i) -> struct(s as a, syms[i + 1] as b))"
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("p.a"), F.asc("p.b"))
            .head(1)
        )
        if not top or top[0]["freq"] < 2:
            break  # nothing left worth merging
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))

        def apply_merge(batches, a=a, b=b):
            ab = a + b
            for pdf in batches:
                out_syms = []
                for syms in pdf["syms"]:
                    syms = list(syms)
                    merged = []
                    i = 0
                    n = len(syms)
                    while i < n:
                        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                            merged.append(ab)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    out_syms.append(merged)
                pdf = pdf.copy()
                pdf["syms"] = out_syms
                yield pdf

        words = words.mapInPandas(
            apply_merge, "syms array<string>, cnt bigint"
        ).localCheckpoint(eager=True)
    return merges


def bpe_tokenize(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the BPE token sequence of ``text_col`` under the
    trained ``merges`` (greedy lowest-rank-first — the GPT-2 loop).
    Map-only Arrow stage; the merge table rides the closure (~MB at 50k
    merges) and per-distinct-word results are memoized."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    other = [c for c in df.columns]
    fields = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in other)
    schema = f"{fields}, {out_col} array<string>"

    def encode(batches):
        from functools import lru_cache

        @lru_cache(maxsize=1 << 18)
        def word_tokens(word: str) -> tuple[str, ...]:
            syms = list(word) + [EOW]
            while len(syms) > 1:
                best = None
                best_rank = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best = r, i
                if best is None:
                    break
                syms[best : best + 2] = [syms[best] + syms[best + 1]]
            return tuple(syms)

        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                row: list[str] = []
                for w in str(text).split(" "):
                    if w:
                        row.extend(word_tokens(w))
                toks.append(row)
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf

    return df.mapInPandas(encode, schema)


def bpe_token_count(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_token_count",
) -> DataFrame:
    """Append ``out_col``: the BPE token count of ``text_col`` — the
    budget unit for packing/sharding (q40/q41) when a real tokenizer
    replaces the whitespace approximation."""
    tokenized = bpe_tokenize(df, merges, text_col, "__bpe")
    return tokenized.withColumn(out_col, F.size("__bpe")).drop("__bpe")


def save_bpe_merges(spark, merges: Sequence[tuple[str, str]], path: str) -> None:
    """Persist the learned merge list (rank-ordered) — the deploy
    artifact: train once on a sample, encode everywhere. KB-to-MB scale
    (50k merges ~ 1 MB), written as a single parquet file."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    local_frame(spark, rows, "rank int, a string, b string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Read a persisted merge list back in learned order."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]
