"""Stored media payloads (multimodal.stored_media): the media queries read
payloads landed once per fixture instead of encoding them on every call.
The stored rows must be the payload builders' rows byte for byte, a
repeat query must plan only its decode, and a rewritten fixture must
rebuild its payloads."""

from __future__ import annotations

import os
import shutil

import pytest

from serverless_etl_bi_on_aws_spark import catalog
from serverless_etl_bi_on_aws_spark.sources import multimodal
from serverless_etl_bi_on_aws_spark.sources.multimodal import stored_media

from tests.conftest import SF_CORRECT, jobs_and_python_stages


def _rows(df):
    return sorted(
        (r.doc_id, r.source, tuple(r.media))
        for r in df.select("doc_id", "source", "media").collect()
    )


@pytest.fixture
def media_cache(tmp_path, monkeypatch):
    """A private artifact cache, so every test builds its own payloads."""
    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_CACHE", str(cache))
    return cache


@pytest.mark.parametrize("kind", sorted(multimodal._ATTACH))
def test_stored_media_equals_attach(spark, media_cache, kind):
    docs = catalog.load_table(spark, SF_CORRECT, "documents").select("doc_id", "source")
    want = _rows(multimodal._ATTACH[kind](docs))
    assert len(want) == 500
    assert _rows(stored_media(spark, SF_CORRECT, kind)) == want  # the build
    assert _rows(stored_media(spark, SF_CORRECT, kind)) == want  # the read-back
    (built,) = media_cache.iterdir()
    assert built.name.startswith(f"spark_graft_media_{kind}_")


def test_repeat_q49_plans_only_its_decode(spark, media_cache):
    """The first q49 builds the stored payloads; a second call scans them,
    so its one Python stage is the decode. Its four jobs: the scan, decode
    and partial aggregate up to the exchange; the sort's range sampling;
    the sort's exchange; the result."""
    from serverless_etl_bi_on_aws_spark.plans.queries import q49_media_pixel_stats_jpeg

    first = q49_media_pixel_stats_jpeg(spark, SF_CORRECT).collect()
    jobs, python_stages = jobs_and_python_stages(
        spark, lambda: q49_media_pixel_stats_jpeg(spark, SF_CORRECT).collect()
    )
    assert python_stages == 1
    assert jobs == 4
    assert q49_media_pixel_stats_jpeg(spark, SF_CORRECT).collect() == first


def test_rewritten_documents_rebuild_the_payloads(spark, media_cache, tmp_path):
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_CORRECT, "documents.parquet"), sf / "documents.parquet")
    before = {r.doc_id: bytes(r.media.payload) for r in stored_media(spark, str(sf), "png").collect()}
    assert len(before) == 500

    # keep every other document, under new ids: a stale artifact would
    # still serve the old 500 rows
    table = pq.read_table(sf / "documents.parquet")
    table = table.filter(table.column("doc_id").to_numpy() % 2 == 0)
    ids = table.column("doc_id").to_numpy() + 1000
    table = table.set_column(table.schema.get_field_index("doc_id"), "doc_id", [ids])
    os.remove(sf / "documents.parquet")
    pq.write_table(table, sf / "documents.parquet")

    after = {r.doc_id: bytes(r.media.payload) for r in stored_media(spark, str(sf), "png").collect()}
    assert sorted(after) == sorted(int(i) for i in ids)
    docs = catalog.load_table(spark, str(sf), "documents").select("doc_id", "source")
    assert after == {
        r.doc_id: bytes(r.media.payload) for r in multimodal.attach_png_media(docs).collect()
    }
    assert len(list(media_cache.iterdir())) == 2
