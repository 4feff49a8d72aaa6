"""Structural invariants for the round-11 operators.

The oracle-parity sweep pins exact VALUES; these pin the PROPERTIES
that must survive any testdata regeneration — bounds, monotonicity,
and internal consistency — so a recipe change that silently breaks an
operator's semantics fails here even if both engines agree on the
broken result.
"""

from __future__ import annotations

import pytest

from job_market_research_spark.registry import load_all

SPECS = load_all()


@pytest.fixture(scope="module")
def rows():
    def collect(spark, sf_dir, name):
        return [r.asDict() for r in SPECS[name].fn(spark, sf_dir).collect()]

    return collect


def test_rich_club_monotone_and_bounded(spark, sf_dir, rows):
    out = rows(spark, sf_dir, "graph_rich_club")
    assert [r["k"] for r in out] == sorted(r["k"] for r in out)
    sizes = [r["n_club"] for r in out]
    assert sizes == sorted(sizes, reverse=True), (
        "club size must shrink as the degree threshold rises"
    )
    edges = [r["e_club"] for r in out]
    assert edges == sorted(edges, reverse=True)
    for r in out:
        if r["phi_r6"] is not None:
            assert 0.0 <= r["phi_r6"] <= 1.0


def test_reciprocity_bounded(spark, sf_dir, rows):
    (r,) = rows(spark, sf_dir, "graph_reciprocity")
    assert 0 <= r["n_mutual"] <= r["n_edges"]
    assert 0.0 <= r["reciprocity_r6"] <= 1.0


def test_t_closeness_bounds_and_breach_consistency(spark, sf_dir, rows):
    from job_market_research_spark.operators.quality import (
        T_CLOSE_DEN,
        T_CLOSE_NUM,
    )

    out = rows(spark, sf_dir, "privacy_t_closeness")
    assert out, "at least one QI group"
    t = T_CLOSE_NUM / T_CLOSE_DEN
    for r in out:
        assert 0.0 <= r["t_closeness_r6"] <= 1.0
        # breach is decided on exact integers; the rounded display
        # value can only disagree within the rounding grid
        if abs(r["t_closeness_r6"] - t) > 1e-6:
            assert r["breach"] == (r["t_closeness_r6"] > t)


def test_cohort_did_internal_algebra(spark, sf_dir, rows):
    (r,) = rows(spark, sf_dir, "ml_cohort_did")
    recomputed = (r["mean_treat_post_r6"] - r["mean_treat_pre_r6"]) - (
        r["mean_ctrl_post_r6"] - r["mean_ctrl_pre_r6"]
    )
    # did derives from UNROUNDED means; four r6 roundings can drift it
    # by at most 2e-6
    assert abs(r["did_r6"] - recomputed) <= 2.1e-6
    for k in ("n_treat_pre", "n_treat_post", "n_ctrl_pre", "n_ctrl_post"):
        assert r[k] > 0, f"{k}: empty DiD cell — cut or hash broke"


def test_confusable_flags_exactly_the_spoofed_docs(spark, sf_dir, rows):
    out = rows(spark, sf_dir, "text_confusable_scripts")
    for r in out:
        if r["doc_id"] % 3 != 0:
            assert r["n_confusable"] == 0 and not r["mixed_script"]
        assert 0 <= (r["confusable_ratio_r6"] or 0.0) <= 1.0
    spoofed = [r for r in out if r["doc_id"] % 3 == 0]
    assert any(r["n_confusable"] > 0 for r in spoofed), (
        "no spoofed doc contains a/e/o — recipe or corpus changed"
    )


def test_vacuum_orphans_bookkeeping(spark, sf_dir, rows):
    (r,) = rows(spark, sf_dir, "maintenance_vacuum_orphans")
    assert r["n_listed"] == r["n_tracked"] + r["n_orphans"]
    assert r["n_orphans"] == 2 and r["orphan_rows"] > 0


#: Every registered query that reads files a `staging.staged_files`
#: stage wrote from its dataset.
FILE_STAGING_QUERIES = (
    "scan_binaryfile_source",
    "sink_csv_escape_roundtrip",
    "scan_hive_partition_types",
    "maintenance_manifest_prune",
    "scan_manifest_time_travel",
    "maintenance_vacuum_orphans",
    "stream_window_tumbling",
    "stream_window_sliding",
    "stream_dedup_watermark",
    "stream_static_join",
    "stream_stream_join",
    "stream_kmv_distinct",
    "stream_sessionize",
    "stream_stateful_counter",
    "stream_bitmap_distinct",
    "stream_welch_monitor",
    "stream_cms_topk",
    "stream_histogram_quantile",
)


@pytest.fixture(scope="module")
def sibling_sf_dir(sf_dir):
    """A testdata dataset other than the one under test — hardcoding
    sf0.01 breaks when SPARK_GRAFT_TEST_SF itself points there (the two
    stagings would share one key) or when the sibling is absent on this
    machine."""
    import os

    root = os.path.dirname(os.path.abspath(sf_dir))
    others = [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("sf")
        and os.path.realpath(os.path.join(root, d)) != os.path.realpath(sf_dir)
        and os.path.exists(os.path.join(root, d, "orders.parquet"))
    ]
    if not others:
        pytest.skip("no sibling sf dataset available for isolation check")
    return others[0]


@pytest.mark.parametrize("name", FILE_STAGING_QUERIES)
def test_file_staging_isolated_per_sf_dir(spark, sf_dir, duck, sibling_sf_dir, name):
    """Staging a SECOND dataset in the same process must not overwrite
    the first one's staged files: build the query at sf_dir (staging
    its files), build it at the sibling (staging the sibling's), then
    the sf_dir build must still match the sf_dir oracle."""
    from tests.oracle_utils import assert_parity

    fn = SPECS[name].fn
    fn(spark, sf_dir)
    fn(spark, sibling_sf_dir)
    assert_parity(fn(spark, sf_dir), duck, SPECS[name].oracle, name=name, sf_dir=sf_dir)


def test_webp_meta_within_variant_caps(spark, sf_dir, rows):
    out = rows(spark, sf_dir, "multimodal_webp_meta")
    assert {r["variant"] for r in out} == {"VP8 ", "VP8L", "VP8X"}
    for r in out:
        assert 1 <= r["width"] <= 1 << 24 and 1 <= r["height"] <= 1 << 24
        if r["variant"] == "VP8 ":
            assert not r["alpha"] and r["width"] <= 0x3FFF
        assert r["riff_size"] in (18, 22)


def test_hurst_output_sane(spark, sf_dir, rows):
    (r,) = rows(spark, sf_dir, "window_hurst_exponent")
    assert r["n_blocks_total"] > 0
    for k in ("mean_rs_n8_r6", "mean_rs_n16_r6", "mean_rs_n32_r6",
              "mean_rs_n64_r6"):
        assert r[k] is None or r[k] > 0
    # R/S growing with n is a statistical tendency, not an invariant —
    # a near-white-noise regenerated corpus with few complete 64-blocks
    # can legitimately compress the gap, so assert only that the large
    # scale isn't wildly BELOW the small one (tolerance, not ordering)
    if r["mean_rs_n8_r6"] is not None and r["mean_rs_n64_r6"] is not None:
        assert r["mean_rs_n64_r6"] > 0.5 * r["mean_rs_n8_r6"]
