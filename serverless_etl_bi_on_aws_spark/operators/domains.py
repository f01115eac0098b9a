"""Domain-level corpus curation — blocklists, allowlists, per-domain
stats, and domain share caps.

Web-corpus quality work happens per REGISTERED DOMAIN as much as per
document: blocklists (spam/SEO farms, adult, malware), per-domain
quality priors, and "no domain may exceed X% of the corpus" caps are all
standard stages (the C4/RefinedWeb/Gopher pipelines each carry a
domain-rule front). The registered-domain rule itself lives in
functions/url.registered_domain (JVM-side, closed-form).

Scale shape: a blocklist is small (1e5-1e7 strings) against a 100 TB
corpus — every filter here computes the domain column codegen-side and
joins BROADCAST (or uses ``isin`` for in-memory lists), so the corpus
never shuffles; ``domain_stats`` is one partial-aggregated groupBy on
the domain key; ``cap_domain_share`` ranks within domain by a
deterministic hash so the kept subset is stable under replay.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from serverless_etl_bi_on_aws_spark.functions.text import token_count
from serverless_etl_bi_on_aws_spark.functions.url import registered_domain
from serverless_etl_bi_on_aws_spark.util import local_frame


def _domain(df: DataFrame, url_col: str, out: str = "__dom") -> DataFrame:
    return df.withColumn(out, registered_domain(url_col, out_col=out))


def _blocked_df(df: DataFrame, blocked: Sequence[str] | DataFrame) -> DataFrame:
    if isinstance(blocked, DataFrame):
        c = blocked.columns[0]
        return blocked.select(F.lower(F.col(c)).alias("__blocked_dom")).distinct()
    return local_frame(
        df.sparkSession, [(d.lower(),) for d in blocked], "__blocked_dom string"
    ).distinct()


def filter_blocked_domains(
    df: DataFrame,
    url_col: str,
    blocked: Sequence[str] | DataFrame,
    keep_invalid: bool = False,
) -> DataFrame:
    """Rows whose registered domain is NOT on the blocklist. Malformed
    urls (NULL domain) are dropped by default — an unattributable page
    cannot be cleared against a blocklist — or kept with
    ``keep_invalid=True``. Broadcast LEFT ANTI join; the corpus side
    never shuffles."""
    tagged = _domain(df, url_col)
    survivors = tagged.join(
        F.broadcast(_blocked_df(df, blocked)),
        tagged["__dom"] == F.col("__blocked_dom"),
        "left_anti",
    )
    if not keep_invalid:
        survivors = survivors.filter(F.col("__dom").isNotNull())
    return survivors.drop("__dom")


def domain_stats(
    df: DataFrame, url_col: str, text_col: str | None = None
) -> DataFrame:
    """Per registered domain: ``(domain, docs [, total_tokens])``.
    Malformed urls aggregate under domain NULL so the corpus total is
    conserved (callers decide how to present them). One groupBy with
    map-side combine — the only exchange moves (domain, partials)."""
    tagged = _domain(df, url_col, out="domain")
    aggs = [F.count("*").alias("docs")]
    if text_col is not None:
        aggs.append(F.sum(token_count(text_col)).alias("total_tokens"))
    return tagged.groupBy("domain").agg(*aggs)


def cap_domain_share(
    df: DataFrame,
    url_col: str,
    max_docs_per_domain: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """At most ``max_docs_per_domain`` rows per registered domain — the
    anti-monoculture cap. Selection is deterministic and replay-stable:
    rows rank by ``xxhash64(id)`` (tiebreak id) inside their domain, so
    the kept subset is a pure function of the data, not of arrival or
    partition order. Malformed-url rows (NULL domain) are all kept — the
    cap targets hosts, not parse failures. One window over the domain
    key (hash-partitioned; no global sort)."""
    if max_docs_per_domain < 1:
        raise ValueError(
            f"max_docs_per_domain must be >= 1, got {max_docs_per_domain}"
        )
    tagged = _domain(df, url_col)
    w = Window.partitionBy("__dom").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__dom").isNull() | (F.col("__rn") <= max_docs_per_domain))
        .drop("__dom", "__rn")
    )
