"""Round-12 pins: the sharded H12 posting segments (VERDICT r11 task 7).

Past ~1e6 docs/token the monolithic inverted index's stop-word posting row
is unwritable; the serving snapshot therefore also publishes the flat
postings as (tok, shard) segment rows (`fulltext_sharded`). These tests
prove, on a CRAFTED HOT-TOKEN corpus (one token in every document,
spanning several shards) and on the gate corpus:

- the segments explode back to exactly the flat index's postings,
- segment rows are bounded by the shard width the manifest records,
- the serving probe over sharded segments is row-identical to the flat
  index probe (D5 ranking equality), end-to-end through /search?shard=1,
- the maintenance append keeps the segments in step with the flat
  postings: its segment rows are additive (no read-modify-write) and
  the two routes stay equal.
"""

from __future__ import annotations

import json
import math
import shutil
import urllib.request

import pytest
from pyspark.sql import functions as F

from australian_company_etl_spark.serving.http_api import (
    FULLTEXT_INDEX,
    FULLTEXT_SHARDED,
    append_documents_to_index,
    make_server,
    serve_in_thread,
    snapshot_tables,
)
from australian_company_etl_spark.sources.registry import table_path
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def hot_corpus(spark, tmp_path_factory):
    """300 docs that all contain the token 'stopword' (df = N spanning
    several shards of the published width) plus a distinguishing rare
    token per bucket."""
    out = str(tmp_path_factory.mktemp("hot_corpus"))
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("stopword common filler "),
            F.lit("rare"), (F.col("id") % 7).cast("string"),
            F.lit(" tail"), F.col("id").cast("string"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("crafted.example").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    docs.write.parquet(out + "/documents.parquet")
    return out


@pytest.fixture(scope="module")
def snap(spark, hot_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sharded_snap"))
    manifest = snapshot_tables(spark, hot_corpus, out, tables=["documents"])
    assert "fulltext_sharded" in manifest
    return out, manifest


@pytest.fixture(scope="module")
def gate_snap(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gate_snap"))
    snapshot_tables(spark, SF_DIR, out, tables=["documents"])
    return out


def _manifest(out: str) -> dict:
    with open(f"{out}/_SNAPSHOT.json") as f:
        return json.load(f)


def _segment_postings(spark, out: str):
    seg = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    return seg.select("tok", F.explode(F.arrays_zip("doc_ids", "tfs")).alias("p")).select(
        "tok", F.col("p.doc_ids").alias("doc_id"), F.col("p.tfs").alias("tf")
    )


def _flat_postings(spark, out: str):
    return spark.read.parquet(table_path(out, FULLTEXT_INDEX)).select("tok", "doc_id", "tf")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


# ── the served segments hold exactly the flat postings ──────────────────────


def test_sharded_reassembles_to_monolithic_on_hot_corpus(spark, snap):
    out, _ = snap
    flat = _flat_postings(spark, out)
    assert _sorted_rows(_segment_postings(spark, out)) == _sorted_rows(flat)
    # the hot token really is corpus-wide
    n_docs = _manifest(out)[FULLTEXT_INDEX]["n_docs"]
    assert flat.filter(F.col("tok") == "stopword").count() == n_docs


def test_sharded_reassembles_to_monolithic_on_gate_corpus(spark, gate_snap):
    flat = _flat_postings(spark, gate_snap)
    assert _sorted_rows(_segment_postings(spark, gate_snap)) == _sorted_rows(flat)


def test_segment_rows_are_bounded(spark, snap):
    out, _ = snap
    manifest = _manifest(out)
    width = manifest[FULLTEXT_SHARDED]["shard_docs"]
    sharded = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    assert sharded.agg(F.max("seg_df")).first()[0] <= width
    # the hot token occupies ⌈N/width⌉ segments, each a bounded row
    n_seg = sharded.filter(F.col("tok") == "stopword").count()
    assert n_seg == math.ceil(manifest[FULLTEXT_INDEX]["n_docs"] / width) > 1


# ── serving probe equality (flat vs sharded), incl. the append path ─────────


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_sharded_probe_row_identical_to_flat(spark, snap):
    from australian_company_etl_spark.serving.http_api import (
        fulltext_rank_from_index,
        fulltext_rank_from_sharded,
    )

    out, manifest = snap
    n_docs = manifest["fulltext_index"]["n_docs"]
    for terms in (["stopword"], ["stopword", "rare3"], ["rare1", "tail42"]):
        flat = _rows(fulltext_rank_from_index(spark, out, terms, 10, n_docs))
        shd = _rows(fulltext_rank_from_sharded(spark, out, terms, 10, n_docs))
        assert flat == shd, terms


def _batch(spark):
    """20 fresh docs past the corpus (doc_ids 300-319 open a new shard)
    that all carry 'stopword' again plus the new token 'appended'."""
    return spark.range(300, 320).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("stopword appended batch doc "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.lit("en").alias("lang"),
        F.lit("crafted.example").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))


def test_append_batch_is_additive_and_stays_exact(spark, snap, tmp_path):
    from australian_company_etl_spark.serving.http_api import (
        fulltext_rank_from_index,
        fulltext_rank_from_sharded,
    )

    out, manifest = snap
    before = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    n_before = before.count()
    # the hot token gains additive segment rows without rewriting old ones
    append_documents_to_index(spark, _batch(spark), out)
    after = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    assert after.count() > n_before
    # old segment rows survived byte-identically (append-only)
    assert before.exceptAll(after).count() == 0
    with open(f"{out}/_SNAPSHOT.json") as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    assert n_docs == 320
    for terms in (["stopword"], ["stopword", "appended"], ["batch", "rare5"]):
        flat = _rows(fulltext_rank_from_index(spark, out, terms, 10, n_docs))
        shd = _rows(fulltext_rank_from_sharded(spark, out, terms, 10, n_docs))
        assert flat == shd, terms


# ── HTTP end-to-end: /search?shard=1 ────────────────────────────────────────


def _get(base: str, path: str):
    try:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.status, json.load(r)
    except urllib.error.HTTPError as e:
        return e.code, json.load(e)


def _serve(spark, out):
    srv = make_server(spark, out, port=0)
    serve_in_thread(srv)
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_search_shard_param_end_to_end(spark, snap):
    out, _ = snap
    srv, base = _serve(spark, out)
    try:
        s1, flat = _get(base, "/search?q=stopword+rare2&k=10")
        s2, shd = _get(base, "/search?q=stopword+rare2&k=10&shard=1")
        assert s1 == 200 and s2 == 200
        assert flat == shd
        assert shd["n"] > 0
    finally:
        srv.shutdown()


def test_maintenance_append_keeps_sharded_route_equal_to_flat(spark, hot_corpus, tmp_path):
    """The append path the CLI and the maintenance stream run must keep the
    served segments in step with the flat postings: after one batch,
    /search?shard=1 answers exactly what the flat route answers — for the
    batch's own token, and for the hot token whose df and idf moved."""
    out = str(tmp_path / "snap")
    snapshot_tables(spark, hot_corpus, out, tables=["documents"])
    append_documents_to_index(spark, _batch(spark), out)
    srv, base = _serve(spark, out)
    try:
        for q in ("appended", "stopword+appended", "stopword+rare3"):
            flat = _get(base, f"/search?q={q}")
            assert flat[0] == 200 and flat[1]["n"] > 0, q
            assert _get(base, f"/search?q={q}&shard=1") == flat, q
    finally:
        srv.shutdown()


def test_search_shard_on_snapshot_without_sharded_index_is_400(spark, gate_snap, tmp_path):
    out = str(tmp_path / "nosharded")
    shutil.copytree(gate_snap, out)
    shutil.rmtree(table_path(out, FULLTEXT_SHARDED))
    srv, base = _serve(spark, out)
    try:
        status, body = _get(base, "/search?q=stopword&shard=1")
        assert status == 400
        assert "sharded" in body["error"]
    finally:
        srv.shutdown()
