"""Dictionary / gazetteer phrase tagging (X5 extension, round 17).

A curation pipeline repeatedly needs "find every occurrence of these
known phrases in every document": benchmark canaries beyond n-gram
overlap (q54/q96 match CORPORA against each other; this matches a
curated TERM LIST), brand/entity tagging for filtering or labeling,
blocklist phrase screening, keyword-level PII triggers. The classic
single-machine answer is Aho-Corasick; the shuffle-native analog is an
n-gram explode joined against the dictionary — the same inverted-index
move as neardup_jaccard_pairs, with the dictionary on the small side.

Semantics: OCCURRENCE COUNTING over whitespace tokens (the corpus
tokenizer, functions/text.tokens). Every position where a dictionary
phrase's tokens appear consecutively counts — overlapping occurrences
included ("a a a" contains "a a" twice), multi-word phrases matched
exactly, no normalization beyond the caller's (pass pre-normalized text
and terms for case-insensitive matching). This is tagging, not
chunking: no longest-match suppression — a hit on "new york" does not
suppress "york" if both are in the dictionary (document both, let the
consumer decide; longest-match is a trivial post-filter on the output).

Scale shape: the per-document explode emits one row per (position,
phrase length) for ONLY the distinct phrase lengths present in the
dictionary (a 1-and-2-word dictionary scans each token twice, not
n_max times); the dictionary side takes an explicit broadcast hint
under the merge-family size gate (term lists are KB-MB — the
takedown-list shape) and falls back to AQE's call above it; the one
exchange is the (id, term) count aggregate,
partially aggregated map-side. Nothing pairs documents with documents
— cost is linear in corpus tokens x distinct phrase lengths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.functions.text import tokens
from serverless_etl_bi_on_aws_spark.util import local_frame


def _ngrams_with_positions(toks, n: int):
    """All (overlapping) n-grams of a materialized token array — unlike
    shingles_from_tokens, NOT distinct (occurrences count) and kept as
    a plain transform the caller explodes."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gazetteer_tag(
    df: DataFrame,
    terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_col: str = "term",
) -> DataFrame:
    """Tag every document with every dictionary phrase it contains:
    returns ``(id_col, term, n_hits)`` with one row per (document,
    matched phrase), ``n_hits`` = exact occurrence count. ``terms`` is
    a one-column (``term_col``) DataFrame of whitespace-joined phrases;
    duplicates are collapsed. Documents matching nothing emit nothing
    (left-join back for dense output)."""
    from serverless_etl_bi_on_aws_spark.operators.merge import (
        BROADCAST_STAGING_MAX_BYTES,
        _estimated_bytes,
    )

    t = terms.select(
        F.col(term_col).alias("_term"),
        F.size(F.split(F.col(term_col), " ")).alias("_n"),
    ).dropDuplicates(["_term"])
    # the phrase-length SET is the one driver-side read: bounded by the
    # dictionary (n_max distinct ints over a KB-MB term list — the
    # takedown-list shape), and it SHAPES the plan (which explodes run),
    # so it cannot stay distributed
    lengths = [r[0] for r in t.select("_n").distinct().collect()]
    if not lengths:
        # empty frame built from df's ACTUAL id dtype (r17 ADVICE): the
        # hardcoded bigint diverged from non-bigint id callers, breaking
        # downstream unions only on the empty-dictionary path
        id_type = df.schema[id_col].dataType.simpleString()
        return local_frame(
            df.sparkSession, [], f"{id_col} {id_type}, term string, n_hits bigint"
        )
    hint_small = _estimated_bytes(terms) <= BROADCAST_STAGING_MAX_BYTES
    tok = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    parts = []
    for n in sorted(lengths):
        grams = tok.select(
            id_col, F.explode(_ngrams_with_positions(F.col("_toks"), n)).alias("_g")
        )
        dim = t.filter(F.col("_n") == n).select("_term")
        if hint_small:  # the merge_upsert size-gate discipline
            dim = F.broadcast(dim)
        parts.append(
            grams.join(dim, grams["_g"] == F.col("_term")).select(
                id_col, "_term"
            )
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)
    return (
        hits.groupBy(id_col, "_term")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(F.col(id_col), F.col("_term").alias("term"), "n_hits")
    )
