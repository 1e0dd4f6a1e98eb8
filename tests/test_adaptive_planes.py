"""Round-11 pins: corpus-adaptive LSH plane count (VERDICT r10 task 1)
and the four r10 ADVICE closes (host-clamped driver heap, content-aware
parity-cache corpus digest, regime_sweep --params/random guard; the bench
stats-key plan-digest pin lives in test_benchdata.py's territory but is
covered here too since it is pure arithmetic)."""

from __future__ import annotations

import pytest

from australian_company_etl_spark.plans.similarity import (
    MAX_PLANES,
    N_PLANES,
    PLANES,
    TARGET_BUCKET_SIZE,
    adaptive_n_planes,
    knn_planes,
)


# ── the plane-count formula (pure arithmetic — pin it exactly) ──────────────


def test_formula_floors_at_parity_count_on_small_corpora():
    # every corpus up to 2^8·target (= 16,384 vectors at the default
    # target 64) stays at the frozen parity 8 — this covers all gate SFs
    for n in (0, 1, 64, 200, 2_000, 16_384):
        assert adaptive_n_planes(n) == N_PLANES


def test_formula_picks_12_planes_at_the_sf10_corpus():
    # the r10-measured scale anchor: ~200k vectors → 12 planes (13.5×
    # fewer candidate pairs than the fixed 8-plane config on that corpus)
    assert adaptive_n_planes(200_000) == 12


def test_formula_intermediate_and_cap():
    assert adaptive_n_planes(20_000) == 9  # ceil(log2(20000/64))
    assert adaptive_n_planes(2_000_000) == 15
    assert adaptive_n_planes(10**18) == MAX_PLANES  # int-bitmask cap


def test_formula_monotonic_in_corpus_size():
    pts = [1, 100, 10_000, 10**6, 10**9, 10**12, 10**18]
    vals = [adaptive_n_planes(n) for n in pts]
    assert vals == sorted(vals)


def test_formula_target_override():
    # halving the target bucket adds one plane in the log2 regime
    assert adaptive_n_planes(200_000, 32) == 13
    assert adaptive_n_planes(200_000, 128) == 11


def test_knn_planes_prefix_is_the_parity_set():
    p12 = knn_planes(12)
    assert p12[:N_PLANES] == PLANES
    assert len(p12) == 12 and len(p12[0]) == len(PLANES[0])


# ── adaptive == frozen parity twin at the gate SF (floor regime) ────────────


@pytest.fixture(scope="module")
def _rows(spark, sf_dir):
    def collect(df):
        return sorted(tuple(r) for r in df.collect())

    return collect


def test_knn_graph_adaptive_equals_parity_at_gate_sf(spark, sf_dir, _rows):
    from australian_company_etl_spark.plans.similarity import (
        knn_graph_lsh,
        knn_graph_lsh_adaptive,
    )

    assert _rows(knn_graph_lsh_adaptive(spark, sf_dir)) == _rows(
        knn_graph_lsh(spark, sf_dir)
    )


def test_lsh_topk_adaptive_equals_parity_at_gate_sf(spark, sf_dir, _rows):
    from australian_company_etl_spark.plans.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_adaptive,
    )

    assert _rows(ann_lsh_topk_adaptive(spark, sf_dir)) == _rows(
        ann_lsh_topk(spark, sf_dir)
    )


def test_more_planes_never_increase_candidate_pairs(spark, sf_dir):
    from australian_company_etl_spark.plans.similarity import knn_candidate_stats

    s8 = knn_candidate_stats(spark, sf_dir)
    s12 = knn_candidate_stats(spark, sf_dir, knn_planes(12))
    assert s8["n_planes"] == N_PLANES and s12["n_planes"] == 12
    assert s12["cand_pairs"] <= s8["cand_pairs"]
    assert s12["rows"] == s8["rows"]


def test_lsh_recall_planes_gauge(spark, sf_dir):
    from australian_company_etl_spark.plans.similarity import lsh_recall

    rep = lsh_recall(spark, sf_dir)
    assert rep["n_planes"] == N_PLANES and rep["n_probes"] == 0
    assert 0 <= rep["hits"] <= rep["total"]
    assert rep["total"] > 0
    assert rep["recall_pct"] == round(100.0 * rep["hits"] / rep["total"], 1)
    # more planes can only shrink buckets → recall never improves
    rep12 = lsh_recall(spark, sf_dir, knn_planes(12))
    assert rep12["hits"] <= rep["hits"]


# ── ADVICE r10: host-clamped local driver heap ──────────────────────────────


def test_default_driver_mem_clamps_to_host(monkeypatch):
    from australian_company_etl_spark import session as sess

    def fake_sysconf(gib):
        def f(name):
            return {"SC_PHYS_PAGES": gib * 256 * 1024, "SC_PAGE_SIZE": 4096}[name]

        return f

    monkeypatch.setattr(sess.os, "sysconf", fake_sysconf(128))
    assert sess._default_driver_mem() == "24g"  # the sf10 bench box
    monkeypatch.setattr(sess.os, "sysconf", fake_sysconf(16))
    assert sess._default_driver_mem() == "8g"  # small host keeps the floor
    monkeypatch.setattr(sess.os, "sysconf", fake_sysconf(64))
    assert sess._default_driver_mem() == "12g"

    def broken(name):
        raise ValueError(name)

    monkeypatch.setattr(sess.os, "sysconf", broken)
    assert sess._default_driver_mem() == "8g"  # detection failure → floor


# ── ADVICE r10: parity-cache corpus digest sees content, not just size ──────


def test_corpus_digest_changes_on_same_size_content_change(tmp_path):
    from scripts.verify_parity import _corpus_digest

    p = tmp_path / "events.parquet"
    blob = bytearray(b"x" * 200_000)
    p.write_bytes(blob)
    d1 = _corpus_digest(str(tmp_path))
    # same size, one flipped byte in the tail window (where the parquet
    # footer lives) — the old size-only digest reused stale hashes here
    blob[-100] = ord("y")
    p.write_bytes(blob)
    d2 = _corpus_digest(str(tmp_path))
    assert d1 != d2
    # identical bytes re-written (mtime changes) still hit
    p.write_bytes(blob)
    assert _corpus_digest(str(tmp_path)) == d2
    # ADVICE r11: a middle-of-file change is no longer a guaranteed blind
    # spot — eight evenly spaced 4 KiB interior probes catch this one
    # (offset 100_000 lands exactly on probe 4 of this 200 kB file)
    blob[100_000] = ord("z")
    p.write_bytes(blob)
    d3 = _corpus_digest(str(tmp_path))
    assert d3 != d2
    # the residual blind spot between probes is declared, not silent —
    # pin it so a future densify shows up as a deliberate test change
    blob[70_500] = ord("w")  # after probe 0's 4 KiB, before probe 1
    p.write_bytes(blob)
    assert _corpus_digest(str(tmp_path)) == d3


# ── ADVICE r10: --params under --regime random is an error, not a no-op ─────


def test_regime_sweep_rejects_params_with_random(monkeypatch, capsys):
    import scripts.regime_sweep as rs

    monkeypatch.setattr(
        "sys.argv", ["regime_sweep.py", "--regime", "random", "--params", '{"dup_pct": 50}']
    )
    assert rs.main() == 2
    err = capsys.readouterr().err
    assert "ignored under --regime random" in err


def test_regime_sweep_rejects_empty_params_with_random(monkeypatch, capsys):
    # ADVICE r11: an explicitly typed `--params '{}'` is falsy but still
    # supplied — it must hit the same guard, not silently pass through
    import scripts.regime_sweep as rs

    monkeypatch.setattr(
        "sys.argv", ["regime_sweep.py", "--regime", "random", "--params", "{}"]
    )
    assert rs.main() == 2
    assert "ignored under --regime random" in capsys.readouterr().err


# ── ADVICE r11: setsim broadcast bound scales with the configured heap ──────


def test_parse_jvm_mem():
    from australian_company_etl_spark.plans.dedup import _parse_jvm_mem

    assert _parse_jvm_mem("8g") == 8 << 30
    assert _parse_jvm_mem("512m") == 512 << 20
    assert _parse_jvm_mem("1t") == 1 << 40
    assert _parse_jvm_mem("8192") == 8192


def test_setsim_broadcast_bound_couples_with_driver_heap(spark):
    from australian_company_etl_spark.plans import dedup as dd

    heap = dd._parse_jvm_mem(
        spark.sparkContext.getConf().get("spark.driver.memory", "8g")
    )
    got = dd._setsim_broadcast_max_bytes(spark)
    # at the session's >=8g floor this is exactly the measured 128 MiB cap
    # (no behavior change); a smaller explicit heap shrinks it as heap/64
    assert got == min(dd.SETSIM_BROADCAST_MAX_INPUT_BYTES, heap // 64)
    assert got == dd.SETSIM_BROADCAST_MAX_INPUT_BYTES  # 8g floor ⇒ cap


# ── r10 task 6: the setsim verify join strategy is a function of the corpus ──


def test_setsim_verify_join_strategy_is_size_pinned(spark, sf_dir, monkeypatch):
    """Below SETSIM_BROADCAST_MAX_INPUT_BYTES the verify join broadcasts
    the per-doc hash sets (measured 2× faster than shuffle-hash at sf10 —
    no candidate shuffle); above it, shuffle-hash (the only strategy that
    exists at 100 TB). Either way the physical plan is decided by the
    input's on-disk size, never by AQE's heap-state-dependent estimate —
    the r10 bench recorded that estimate flipping plans run-to-run."""
    from australian_company_etl_spark.plans import dedup as dd

    assert dd._docs_bytes(sf_dir) > 0
    plan = dd.dedup_setsim_prefix(spark, sf_dir)._jdf.queryExecution().toString()
    assert "ResolvedHint" in plan or "broadcast" in plan.lower()
    monkeypatch.setattr(dd, "SETSIM_BROADCAST_MAX_INPUT_BYTES", 0)
    plan2 = dd.dedup_setsim_prefix(spark, sf_dir)._jdf.queryExecution().toString()
    assert "shuffle_hash" in plan2.lower() or "ShuffledHashJoin" in plan2
