"""Streaming incremental corpus dedup — the hourly-crawl ingest LOOP the
persisted MinHash index (operators/dedup_index.py) was built for, wired
end to end: watch a landing directory for new document files, and per
micro-batch probe-the-index -> write survivors -> append signatures.

    readStream(dir) --AvailableNow/hourly--> foreachBatch(apply_dedup_batch)

The survivors table is ``clean_dir/batch=<batch-id>/`` — hive-partitioned
by the batch id, so ``spark.read.parquet(clean_dir)`` serves the whole
deduped corpus with a free provenance column and each batch's output is
an independently-replaceable partition.

Replay safety (foreachBatch is at-least-once; every crash point is
covered, pytest-pinned in tests/test_ingest_dedup.py):

  * crash BEFORE the survivors write commits — replay recomputes the
    probe against an index the batch has not touched yet and overwrites
    the same partition with the identical result;
  * crash AFTER survivors commit, before/inside the index append — the
    partition's ``_SUCCESS`` gates the write
    (:func:`util.write_survivors_once`, every loop's one gate; survivors
    are NOT recomputed: the index may already hold some of this batch's
    signatures, and a recompute would see the batch as a duplicate of
    itself and emit an EMPTY partition — the one data-loss trap in this
    composition); ``update_index`` then re-appends, and its replay
    duplicates are harmless set-membership rows that
    ``compact_index`` purges;
  * crash AFTER the index marker — both steps no-op.

The ORDER is load-bearing: survivors must be computed before the batch's
signatures reach the index (probe-then-append), which is exactly the
online rule the one-shot equivalence proof in test_dedup_index relies on.

Start from :func:`operators.dedup_index.init_minhash_index` (an empty
index) so the first micro-batch runs the identical path as every later
one. Each batch is signed ONCE: the loop builds one memoized,
checkpointed signature frame (:func:`operators.dedup_index.
batch_signatures`) that the probe and the append share, and that a
replay whose steps both no-op never computes. At 100 TB this loop is
the same shape per batch: the probe shuffles only the batch against
column-pruned scans of the corpus's (band, bucket, id) triples, and the
appends grow the index linearly between compactions.

:func:`apply_curation_batch` / :func:`start_incremental_curation` are
the full-funnel variant (round 10): the q81 curation chain — quality
gate, batch-local exact dedup, THEN the index probe — as a running
pipeline, with the same crash-point discipline and the filter-first
ordering that keeps rejected junk out of the index.
:func:`apply_hash_dedup_batch` runs the same loop over any 64-bit hash
index (SimHash, url, image dHash, audio fingerprint), hashing with the
hasher the index recorded.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.operators.dedup_index import (
    batch_signatures,
    dedup_against_index,
    update_index,
)
from serverless_etl_bi_on_aws_spark.operators.hash_index import (
    batch_hashes,
    dedup_against_hash_index,
    update_hash_index,
)
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)
from serverless_etl_bi_on_aws_spark.util import (
    read_marker,
    write_marker,
    write_survivors_once,
    writer_lease,
)

#: per-weights-path validated num_buckets (selection.weights_num_buckets)
#: — the weights table at a given path is frozen by the apply_curation_
#: batch contract, so the dense-table check runs once per stream, not
#: once per micro-batch. Entries are stamped with the weights dir's
#: (max mtime_ns, total size, file count) — the _BITS_BC_CACHE pattern
#: (bloom_index.py) — so a REFIT at the same path re-validates instead
#: of silently re-moduloing tokens into a stale bucket space (the exact
#: failure weights_num_buckets was added to catch).
_DSIR_NUM_BUCKETS: dict[str, tuple[tuple[int, int, int], int]] = {}


def _weights_dir_stamp(path: str) -> tuple[int, int, int]:
    """Freshness stamp for a weights parquet directory: (newest file
    mtime_ns, total bytes, file count) over its direct entries. Any
    rewrite — even one producing identical total size — bumps mtime_ns;
    a single-file path stats that file."""
    if os.path.isdir(path):
        stats = [
            os.stat(os.path.join(path, name)) for name in os.listdir(path)
        ]
        if stats:
            return (
                max(s.st_mtime_ns for s in stats),
                sum(s.st_size for s in stats),
                len(stats),
            )
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, 1)


def checkpoint_instance_nonce(checkpoint_dir: str) -> str:
    """A nonce identifying THIS INSTANCE of the checkpoint, folded into
    every batch id. Epoch ids restart at 0 whenever a checkpoint is
    recreated, so an id derived from the checkpoint *path* alone (the
    pre-round-10 scheme: md5 of the string) collides after the common
    'delete the checkpoint and reprocess' move: replayed epoch 0 would
    find old ``_applied/<ckpt>-0`` markers and ``_SUCCESS``-gated
    partitions and silently skip genuinely new batches — data loss with
    no error (round-9 ADVICE, medium).

    The nonce is a ``_instance.json`` marker written inside the
    checkpoint dir on first use; wiping the checkpoint wipes the nonce,
    so the recreated stream mints fresh batch ids that share no markers
    or partitions with the old instance. Written through
    util.write_marker — the documented object-store swap point."""
    path = os.path.join(checkpoint_dir, "_instance.json")
    m = read_marker(path)
    if m is None:
        m = {"nonce": uuid.uuid4().hex[:12]}
        write_marker(path, m)
    return m["nonce"]


def apply_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    clean_dir: str,
    batch_id: str,
    threshold: float = 0.5,
    text_col: str = "text",
) -> None:
    """One micro-batch of the ingest loop: probe -> write survivors ->
    append signatures, the batch signed once for both. Idempotent per
    ``batch_id`` (see module docstring for the per-crash-point
    argument). Exposed separately from the stream so tests (and batch
    schedulers) can drive replays directly."""
    sigs = batch_signatures(batch_df, index_path, text_col)
    write_survivors_once(
        clean_dir,
        batch_id,
        lambda: dedup_against_index(
            spark, batch_df, index_path, threshold=threshold, text_col=text_col,
            signatures=sigs,
        ),
    )
    update_index(batch_df, index_path, batch_id, text_col=text_col, signatures=sigs)


def start_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    clean_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Watch ``source_dir`` for new document files and keep ``clean_dir``
    a deduped corpus: every new file's documents are admitted iff they
    are not near-duplicates of anything already seen (indexed corpus or
    a smaller-id doc of the same micro-batch). Drain with
    ``available_now`` for the scheduled-batch cadence or leave running
    on a processing-time trigger. Batch ids fold the checkpoint INSTANCE
    identity in (epoch ids restart at 0 per checkpoint instance — see
    :func:`checkpoint_instance_nonce` for why the path alone is not
    enough)."""
    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    stream = read_landing_zone(spark, source_dir, schema, fmt, max_files_per_trigger)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(
            spark,
            batch_df,
            index_path,
            clean_dir,
            f"{ckpt}-{epoch_id}",
            threshold=threshold,
            text_col=text_col,
        )

    return start_foreach_batch(
        stream, apply_batch, checkpoint_dir, available_now, processing_time
    )


def apply_curation_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    clean_dir: str,
    batch_id: str,
    quality_threshold: float = 0.49999,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    ivf_index_path: str | None = None,
    embedding_col: str = "embedding",
    semantic_threshold: float = 0.9,
    n_probe: int = 4,
    html_col: str | None = None,
    dsir_weights_path: str | None = None,
    dsir_min_milli: int = 0,
    blocklist_terms_path: str | None = None,
) -> None:
    """The streaming twin of the q81 curation funnel: one micro-batch
    runs quality-gate -> batch-local exact dedup -> index probe ->
    _SUCCESS-gated survivors write -> marker-gated signature append.

    ``dsir_weights_path`` (round 15) adds the target-distribution rung
    after the quality gate, symmetric with curation_stages'
    ``dsir_weights=`` knob: the PERSISTED weights table (parquet, from
    ``fit_dsir_weights`` — a path, not a DataFrame, so every micro-batch
    and every crash REPLAY reads the same frozen table and the gated
    frame stays a pure per-row function of batch_df, which the
    _SUCCESS/marker protocol requires) scores the batch and rows below
    ``dsir_min_milli`` drop before anything touches the index.
    ``clean_dir`` stays a continuously-curated corpus, the composition
    of this loop with operators/curation.py's batch semantics:

      * quality gate — ``quality_score(text) >= quality_threshold``,
        BEFORE anything touches the index: a rejected doc neither
        survives nor gets indexed, so later good docs are never dropped
        as near-duplicates of filtered junk (the filter-then-dedup
        order every curation recipe fixes);
      * exact dedup — keep MIN id per identical text WITHIN the batch
        (deterministic on replay). ACROSS batches an exact duplicate is
        caught by the index probe itself: identical text -> identical
        MinHash signature -> estimated Jaccard 1.0 >= any threshold, so
        no separate cross-batch text index is needed;
      * near-dup vs corpus — ``dedup_against_index``'s online rule over
        the gated batch, with the identical crash-point discipline as
        :func:`apply_dedup_batch` (probe before append; survivors
        partition gated by ``_SUCCESS``, never recomputed once the
        batch's own signatures may be in the index; appends
        marker-idempotent, replay duplicates purged by compaction).

    With ``ivf_index_path`` set, the funnel gains its FOURTH rung
    (round-10 verdict #4 — previously the embedding loop ran only as a
    sibling stream): ``batch_df`` must carry ``embedding_col``
    (nullable — unembedded docs pass the rung untouched, the same
    conservative rule as the batch ``semantic_curation_stage``), the
    lexical survivors are probed against the persisted IVF index
    (``dedup_embeddings_against_index``'s online rule: drop iff cosine
    >= ``semantic_threshold`` vs any indexed vector in the ``n_probe``
    nearest clusters, or vs a smaller-id batch mate), and the gated
    batch's (id, embedding) rows are appended to the IVF corpus after
    the text signatures — both appends marker-idempotent per batch id,
    so every crash point replays cleanly (pinned: the crash trio on a
    planted paraphrase duplicate). The IVF index must be built with
    ``id_col``/``embedding_col`` as its id/vec columns
    (``build_ivf_index(..., id_col=..., vec_col=...)``).

    The gated/exact-deduped frame is a pure per-row/per-text function of
    ``batch_df``, so every replay reconstructs the identical probe input
    — the determinism the _SUCCESS/marker protocol requires."""
    from pyspark.sql import Window, functions as F

    from serverless_etl_bi_on_aws_spark.functions.text import quality_score

    if html_col is not None:
        # raw-crawl rung (round 14): derive the text from markup BEFORE
        # the quality gate — a pure per-row function of batch_df, so the
        # replay-determinism the _SUCCESS/marker protocol requires holds
        from serverless_etl_bi_on_aws_spark.functions.html import (
            extract_main_text,
        )

        batch_df = batch_df.withColumn(
            text_col, extract_main_text(html_col).getField("text")
        )
    gated = batch_df.filter(
        quality_score(text_col) >= F.lit(float(quality_threshold))
    )
    if dsir_weights_path is not None:
        from serverless_etl_bi_on_aws_spark.operators.selection import (
            dsir_score,
            weights_num_buckets,
        )

        weights = spark.read.parquet(dsir_weights_path)
        # the weights table is frozen by contract (see docstring), so the
        # dense-table validation + num_buckets derivation runs ONCE per
        # (path, content stamp), not one extra count job per micro-batch;
        # the stamp catches an out-of-contract refit at the same path
        stamp = _weights_dir_stamp(dsir_weights_path)
        hit = _DSIR_NUM_BUCKETS.get(dsir_weights_path)
        nb = hit[1] if hit is not None and hit[0] == stamp else None
        if nb is None:
            nb = weights_num_buckets(weights)
            _DSIR_NUM_BUCKETS[dsir_weights_path] = (stamp, nb)
        gated = (
            dsir_score(gated, weights, text_col=text_col, id_col=id_col,
                       out_col="__dsir", num_buckets=nb)
            .filter(F.col("__dsir") >= F.lit(int(dsir_min_milli)))
            .drop("__dsir")
        )
    if blocklist_terms_path is not None:
        # phrase-blocklist rung (round 17): terms are a FROZEN parquet
        # table (path, not DataFrame — the dsir_weights_path replay
        # contract: every replay reads the same table, so the gated
        # frame stays a pure per-row function of batch_df). Runs before
        # the exact-dedup/index rungs so blocked content never reaches
        # the index.
        from serverless_etl_bi_on_aws_spark.operators.gazetteer import (
            gazetteer_tag,
        )

        terms = spark.read.parquet(blocklist_terms_path)
        blocked = (
            gazetteer_tag(
                gated.select(id_col, text_col), terms,
                text_col=text_col, id_col=id_col,
            )
            .select(id_col)
            .dropDuplicates([id_col])
        )
        gated = gated.join(blocked, id_col, "left_anti")
    w = Window.partitionBy(text_col)
    gated = (
        gated.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
    )

    sigs = batch_signatures(gated, index_path, text_col)

    def survivors() -> DataFrame:
        kept = dedup_against_index(
            spark, gated, index_path, threshold=threshold, text_col=text_col,
            signatures=sigs,
        )
        if ivf_index_path is None:
            return kept
        from serverless_etl_bi_on_aws_spark.operators.similarity import (
            dedup_embeddings_against_index,
        )

        return dedup_embeddings_against_index(
            spark,
            kept,
            ivf_index_path,
            threshold=semantic_threshold,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=embedding_col,
        )

    write_survivors_once(clean_dir, batch_id, survivors)
    update_index(gated, index_path, batch_id, text_col=text_col, signatures=sigs)
    if ivf_index_path is not None:
        from serverless_etl_bi_on_aws_spark.operators.similarity import (
            update_ivf_index,
        )

        # index the GATED set's embeddings (the text index's discipline:
        # everything past the quality gate is corpus), ids + vectors
        # only — the corpus must not carry text payloads
        update_ivf_index(
            gated.select(id_col, embedding_col).filter(
                F.col(embedding_col).isNotNull()
            ),
            ivf_index_path,
            batch_id,
            vec_col=embedding_col,
        )


def start_incremental_curation(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    clean_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    quality_threshold: float = 0.49999,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    ivf_index_path: str | None = None,
    embedding_col: str = "embedding",
    semantic_threshold: float = 0.9,
    n_probe: int = 4,
    html_col: str | None = None,
    dsir_weights_path: str | None = None,
    dsir_min_milli: int = 0,
    blocklist_terms_path: str | None = None,
) -> StreamingQuery:
    """Watch ``source_dir`` and keep ``clean_dir`` a continuously-CURATED
    corpus (quality-gated, exact- and near-deduped — and, with
    ``ivf_index_path``, semantically deduped as the fourth rung; with
    ``dsir_weights_path``, DSIR-selected toward a target distribution,
    see apply_curation_batch) — the q81 funnel as a running pipeline,
    with :func:`start_incremental_dedup`'s batch ids."""
    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    stream = read_landing_zone(spark, source_dir, schema, fmt, max_files_per_trigger)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_curation_batch(
            spark,
            batch_df,
            index_path,
            clean_dir,
            f"{ckpt}-{epoch_id}",
            quality_threshold=quality_threshold,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            ivf_index_path=ivf_index_path,
            embedding_col=embedding_col,
            semantic_threshold=semantic_threshold,
            n_probe=n_probe,
            html_col=html_col,
            dsir_weights_path=dsir_weights_path,
            dsir_min_milli=dsir_min_milli,
            blocklist_terms_path=blocklist_terms_path,
        )

    return start_foreach_batch(
        stream, apply_batch, checkpoint_dir, available_now, processing_time
    )


def start_warc_curation(
    spark: SparkSession,
    warc_dir: str,
    index_path: str,
    clean_dir: str,
    checkpoint_dir: str,
    quality_threshold: float = 0.49999,
    threshold: float = 0.5,
    available_now: bool = True,
    processing_time: str = "1 hour",
    dsir_weights_path: str | None = None,
    dsir_min_milli: int = 0,
) -> StreamingQuery:
    """The crawl-shaped front of :func:`start_incremental_curation`:
    watch ``warc_dir`` for arriving WARC segments (the Common Crawl
    landing pattern) and keep ``clean_dir`` a continuously-curated TEXT
    corpus — binaryFile stream -> ISO 28500 record parse (the shared
    Arrow stage, sources/warc.stream_warc) -> HTTP-200 ``text/html``
    responses only -> the standard curation micro-batch with the HTML
    extraction rung in front (markup stripped BEFORE the quality gate;
    the curated corpus stores clean text, never markup).

    ``doc_id = xxhash64(WARC-Target-URI)``: ids are a pure function of
    the record, so a REPLAYED micro-batch reproduces identical rows
    (the _SUCCESS/marker protocol's determinism requirement holds
    through parse + extraction, both per-row pure), and a re-crawl of
    the same page arrives under the same id — upstream of the content
    near-dup rung that catches the same article under a NEW url.
    Quarantined records and non-200/non-HTML responses never reach the
    gate. ``dsir_weights_path`` (round 16) threads the frozen-weights
    target-distribution rung through, same contract as
    :func:`apply_curation_batch` — so the crawl loop can select toward
    a target domain while it dedups. The source is ``stream_warc``, not
    a landing-zone reader; the sink is the shared launcher."""
    from serverless_etl_bi_on_aws_spark.sources.warc import stream_warc

    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    docs = (
        stream_warc(spark, warc_dir)
        .filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select(
            F.xxhash64("target_uri").alias("doc_id"),
            F.decode("body", "UTF-8").alias("html"),
        )
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_curation_batch(
            spark,
            batch_df,
            index_path,
            clean_dir,
            f"{ckpt}-{epoch_id}",
            quality_threshold=quality_threshold,
            threshold=threshold,
            text_col="text",
            id_col="doc_id",
            html_col="html",
            dsir_weights_path=dsir_weights_path,
            dsir_min_milli=dsir_min_milli,
        )

    return start_foreach_batch(
        docs, apply_batch, checkpoint_dir, available_now, processing_time
    )


def start_snapshot_curation_stream(
    spark: SparkSession,
    source_dir: str,
    family_root: str,
    schema: StructType,
    checkpoint_dir: str,
    quality_threshold: float = 0.49999,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    keep_n: int = 2,
    lease_wait_s: float = 120.0,
    html_col: str | None = None,
) -> StreamingQuery:
    """:func:`start_incremental_curation` with every micro-batch
    committed as ONE atomic snapshot transition over a family managed by
    operators/snapshot.py (artifact names ``corpus`` + ``text_index``) —
    the deployment shape where the ingest loop runs CONCURRENTLY with
    the streaming takedown queue against the same family. Both mutators
    serialize on the family writer lease (``lease_wait_s`` bounds how
    long a batch queues behind the other stream's commit), and readers
    resolving through ``snapshot_paths`` see each ingest batch and each
    takedown as one consistent corpus+index flip — never a mix. The
    loop's replay gates (per-batch ``_SUCCESS`` + index ``_applied``
    markers) ride the hardlink clones, so at-least-once re-delivery
    stays a no-op across transitions; a crash anywhere inside a batch
    commits nothing (the stage is swept by the next successful commit)."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import mutate_snapshot

    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    stream = read_landing_zone(spark, source_dir, schema, fmt, max_files_per_trigger)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with mutate_snapshot(
            family_root,
            ["corpus", "text_index"],
            owner="snapshot_curation_stream",
            wait_s=lease_wait_s,
            keep_n=keep_n,
        ) as st:
            apply_curation_batch(
                spark,
                batch_df,
                st["text_index"],
                st["corpus"],
                f"{ckpt}-{epoch_id}",
                quality_threshold=quality_threshold,
                threshold=threshold,
                text_col=text_col,
                id_col=id_col,
                html_col=html_col,
            )

    return start_foreach_batch(
        stream, apply_batch, checkpoint_dir, available_now, processing_time
    )


def apply_hash_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    clean_dir: str,
    batch_id: str,
    radius: int,
) -> None:
    """The twin of :func:`apply_dedup_batch` for any 64-bit hash index
    (operators/hash_index.py — SimHash, url, image dHash, audio
    fingerprint): identical crash-point discipline (probe ->
    _SUCCESS-gated survivors write -> marker-gated hash append), with the
    hasher the index recorded at ``init_hash_index``. Survivors keep
    their payloads (dropped ids go into the anti-join, payloads never
    shuffle); NULL-hash (undecodable, unparseable) rows always survive.
    The batch is hashed once (for media, decoded once): one
    :func:`operators.hash_index.batch_hashes` memo feeds both steps."""
    hashed = batch_hashes(batch_df, index_path)
    write_survivors_once(
        clean_dir,
        batch_id,
        lambda: dedup_against_hash_index(
            spark, batch_df, index_path, radius, hashed=hashed
        ),
    )
    update_hash_index(batch_df, index_path, batch_id, hashed=hashed)


def apply_embedding_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    clean_dir: str,
    batch_id: str,
    threshold: float = 0.9,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The EMBEDDING twin of :func:`apply_dedup_batch` over the persisted
    IVF index (operators/similarity.py): probe the probed-cluster corpus
    for cosine >= ``threshold`` -> _SUCCESS-gated survivors write ->
    marker-gated centroid-assigned corpus append. The same one data-loss
    trap applies: once the batch's vectors are IN the corpus, a survivors
    recompute would see the batch as a duplicate of itself and emit an
    EMPTY partition — hence the write is gated, never recomputed, after
    commit. Crash-replayed appends leave duplicate corpus rows that are
    harmless to dedup probes (set membership) and purged by
    ``compact_ivf_index``; ``ivf_drift_status`` tells the operator when
    the append stream has drifted far enough from the trained centroids
    to retrain."""
    from serverless_etl_bi_on_aws_spark.operators.similarity import (
        dedup_embeddings_against_index,
        update_ivf_index,
    )

    write_survivors_once(
        clean_dir,
        batch_id,
        lambda: dedup_embeddings_against_index(
            spark,
            batch_df,
            index_path,
            threshold=threshold,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
        ),
    )
    update_ivf_index(batch_df, index_path, batch_id, vec_col=vec_col)


# --------------------------------------------------------------------------
# Bloom-filter streaming dedup (round 14) — the EXACT-KEY member of the
# incremental family (text minhash / image / audio / embedding / url),
# with the join-free probe: keys already admitted are dropped by a
# broadcast bitset check instead of an index equi-join. Accepts the
# documented ~fpp loss of genuinely-new keys (route to an exact index
# via dedup_against_bloom(keep_flagged=True) when that is not ok).
# --------------------------------------------------------------------------


def apply_bloom_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    clean_dir: str,
    batch_id: str,
    key_col: str,
    id_col: str | None = None,
) -> None:
    """probe -> write survivors -> OR the batch's bits in. The same
    crash-point discipline as apply_dedup_batch: survivors gate on their
    partition _SUCCESS (never recomputed once the filter may contain
    this batch's keys — recomputing would see the batch as a duplicate
    of itself), and the bits update is idempotent by construction
    (OR-ing the same bits twice is a no-op), so no applied-marker is
    needed on the filter side.

    The Bloom only knows PRIOR batches, so same-key rows inside one
    batch collapse here: to the min-``id_col`` row when given (the
    deterministic, replay-identical choice), else via dropDuplicates
    (arbitrary representative — still consistent downstream because the
    _SUCCESS gate admits exactly one committed write).

    The WHOLE probe→write→update runs under the index's single-writer
    lease (util.writer_lease, same discipline as apply_dedup_batch's
    index family): without it, two concurrent batch appliers race both
    the probe-then-OR window (each admits keys the other is concurrently
    admitting) and the bits.bin read-modify-write itself (lost OR'd bits
    = broken no-false-negatives). A second applier fails loudly with
    LeaseHeldError rather than interleave."""
    from serverless_etl_bi_on_aws_spark.operators.bloom_index import (
        _or_bits_into_index,
        dedup_against_bloom,
    )

    def survivors() -> DataFrame:
        kept = dedup_against_bloom(batch_df, key_col, index_path)
        if id_col is None:
            return kept.dropDuplicates([key_col])
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy(F.col(id_col))
        return (
            kept.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    with writer_lease(index_path, owner=f"bloom_dedup:{batch_id}"):
        write_survivors_once(clean_dir, batch_id, survivors)
        # the unguarded core — this function already holds the lease
        _or_bits_into_index(batch_df, key_col, index_path)


def start_incremental_bloom_dedup(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    clean_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    key_col: str,
    id_col: str | None = None,
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
) -> StreamingQuery:
    """Watch ``source_dir`` and keep ``clean_dir`` an exact-key-deduped
    corpus with Bloom-filter state (build the empty filter first with
    ``build_bloom_index`` over an empty frame, sized for the expected
    corpus). Batch ids fold the checkpoint instance nonce in, same as
    every loop in this module."""
    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    stream = read_landing_zone(spark, source_dir, schema, fmt)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_bloom_dedup_batch(
            spark,
            batch_df,
            index_path,
            clean_dir,
            f"{ckpt}-{epoch_id}",
            key_col,
            id_col=id_col,
        )

    return start_foreach_batch(
        stream, apply_batch, checkpoint_dir, available_now, processing_time
    )


def start_cms_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_path: str,
    schema: StructType,
    checkpoint_dir: str,
    key_col: str,
    width: int = 4096,
    depth: int = 5,
    weight_col: str | None = None,
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
) -> StreamingQuery:
    """Maintain a persisted Count-Min sketch over a stream — frequency
    state without data-sized keys (the "which urls/terms are getting
    hot" monitor beside the dedup loops). Each micro-batch is one
    marker-guarded ``sketches.write_cms_batch``, so at-least-once
    replays never double-count; ``sketches.read_cms`` serves the merged
    sketch at any time, equal to a one-shot sketch of everything drained
    so far."""
    from serverless_etl_bi_on_aws_spark.operators.sketches import write_cms_batch

    ckpt = checkpoint_instance_nonce(checkpoint_dir)
    stream = read_landing_zone(spark, source_dir, schema, fmt)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_cms_batch(
            batch_df,
            key_col,
            sketch_path,
            f"{ckpt}-{epoch_id}",
            width=width,
            depth=depth,
            weight_col=weight_col,
        )

    return start_foreach_batch(
        stream, apply_batch, checkpoint_dir, available_now, processing_time
    )
