"""staging memo semantics: per-(app, key) frame identity, extra key
parts, dead-app eviction, and file stages re-staged when their
directory is gone — tested with stub frames (no Spark needed for the
memo logic) plus live identity and value checks."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_market_research_spark import staging


class _FakeFrame:
    def __init__(self) -> None:
        self.persisted = False
        self.unpersisted = False

    def persist(self, _level):
        self.persisted = True
        return self

    def unpersist(self):
        self.unpersisted = True
        return self


class _FakeSpark:
    def __init__(self, app_id: str) -> None:
        self.sparkContext = type("SC", (), {"applicationId": app_id})()


def _fresh_cache(monkeypatch):
    cache: dict = {}
    monkeypatch.setattr(staging, "_STAGE_CACHE", cache)
    return cache


def test_same_key_returns_same_persisted_frame(monkeypatch):
    _fresh_cache(monkeypatch)
    spark = _FakeSpark("app-1")
    builds = []

    def build():
        f = _FakeFrame()
        builds.append(f)
        return f

    a = staging.staged_frame(spark, "x", "/sf", build)
    b = staging.staged_frame(spark, "x", "/sf", build)
    assert a is b and a.persisted
    assert len(builds) == 1, "memo hit must not rebuild"
    c = staging.staged_frame(spark, "x", "/other", build)
    assert c is not a and len(builds) == 2, "key includes the dataset"


def test_extra_key_parts_give_distinct_entries(monkeypatch):
    cache = _fresh_cache(monkeypatch)
    spark = _FakeSpark("app-1")
    r1 = staging.staged_frame(spark, "x", "/sf", _FakeFrame, 1)
    r2 = staging.staged_frame(spark, "x", "/sf", _FakeFrame, 2)
    bare = staging.staged_frame(spark, "x", "/sf", _FakeFrame)
    assert len({id(r1), id(r2), id(bare)}) == 3
    assert staging.staged_frame(spark, "x", "/sf", _FakeFrame, 1) is r1
    assert set(cache) == {
        ("app-1", "x", "/sf", 1),
        ("app-1", "x", "/sf", 2),
        ("app-1", "x", "/sf"),
    }


def test_deleted_staged_directory_is_restaged(monkeypatch, tmp_path):
    import shutil

    monkeypatch.setattr(staging, "_FILE_CACHE", {})
    runs = []

    @staging.staged_files
    def stage_marker(spark, sf_dir, width=3, *, out):
        with open(os.path.join(out, "marker"), "w") as f:
            f.write(f"{sf_dir}:{width}")
        runs.append(out)
        return out

    sf = str(tmp_path / "sf")
    out = stage_marker(None, sf)
    assert stage_marker(None, sf, 3) == out and stage_marker(None, sf, width=3) == out
    assert len(runs) == 1, "defaulted, positional and keyword calls share one entry"
    other = stage_marker(None, sf, 4)
    assert other != out and len(runs) == 2, "parameters get their own directory"
    shutil.rmtree(out)
    assert stage_marker(None, sf) == out and len(runs) == 3
    with open(os.path.join(out, "marker")) as f:
        assert f.read() == f"{sf}:3"
    shutil.rmtree(out)
    shutil.rmtree(other)


def test_dead_app_entries_are_unpersisted_and_dropped(monkeypatch):
    cache = _fresh_cache(monkeypatch)
    old = staging.staged_frame(_FakeSpark("app-old"), "x", "/sf", _FakeFrame)
    assert ("app-old", "x", "/sf") in cache
    new = staging.staged_frame(_FakeSpark("app-new"), "x", "/sf", _FakeFrame)
    assert old.unpersisted, "stopped app's blocks must be released"
    assert ("app-old", "x", "/sf") not in cache
    assert new is not old


def test_unpersist_failure_still_evicts(monkeypatch):
    cache = _fresh_cache(monkeypatch)

    class _Broken(_FakeFrame):
        def unpersist(self):
            raise RuntimeError("context stopped")

    staging.staged_frame(_FakeSpark("app-old"), "x", "/sf", _Broken)
    staging.staged_frame(_FakeSpark("app-new"), "x", "/sf", _FakeFrame)
    assert ("app-old", "x", "/sf") not in cache


def test_staged_values_equal_inline_derivation(spark, sf_dir):
    """The staging contract: persist changes the access path, never the
    values. Each staged leg must collect to EXACTLY the rows its inline
    derivation produces (sorted compare; guards against a staged build
    drifting from the semantics its consumers' oracles assume)."""
    from pyspark.sql import functions as F

    from job_market_research_spark.io import load
    from job_market_research_spark.ml.ir import staged_ws_tcounts
    from job_market_research_spark.plans.timeseries import (
        _rev_sum_dec,
        staged_daily_revenue,
    )

    staged = staged_ws_tcounts(spark, sf_dir)
    inline = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda x: x != "")
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    key = lambda r: (r["doc_id"], r["token"])  # noqa: E731
    assert sorted(staged.collect(), key=key) == sorted(
        inline.collect(), key=key
    )

    daily = staged_daily_revenue(spark, sf_dir)
    inline_daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(_rev_sum_dec().alias("v"))
    )
    assert sorted(daily.collect()) == sorted(inline_daily.collect())


def test_live_staged_frames_are_identical_across_calls(spark, sf_dir):
    """The real staged legs return the SAME DataFrame object on every
    call within one app — callers share one persisted materialization."""
    from job_market_research_spark.ml.ir import staged_ws_tcounts
    from job_market_research_spark.ml.neardup import staged_shingles
    from job_market_research_spark.ml.similarity import staged_embeddings

    for fn in (staged_ws_tcounts, staged_shingles, staged_embeddings):
        assert fn(spark, sf_dir) is fn(spark, sf_dir)
    # the shingle width is the one extra key part of the dedup family's leg
    app = spark.sparkContext.applicationId
    assert (app, "shingles", os.path.realpath(sf_dir), 3) in staging._STAGE_CACHE


def test_round12_staged_frames_value_equal_inline(spark, sf_dir):
    """Value-equality pins for the late-r12 staged legs (iterative
    graph, shared LM scores, basket items): each must collect to
    exactly the rows of its inline derivation."""
    from pyspark.sql import functions as F

    from job_market_research_spark.functions.text import staged_lm_per_doc
    from job_market_research_spark.io import load
    from job_market_research_spark.ml.graph import (
        _undirected_edges,
        staged_und,
    )

    und = staged_und(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    inline_und = _undirected_edges(docs, docs.count())
    assert sorted(map(tuple, und.collect())) == sorted(
        map(tuple, inline_und.collect())
    )

    per_doc = staged_lm_per_doc(spark, sf_dir)
    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    stats = tok.agg(
        (F.count("*") + F.countDistinct("token"))
        .cast("double")
        .alias("__n_plus_v")
    )
    neg_logp = -F.log((F.col("c") + 1).cast("double") / F.col("__n_plus_v"))
    inline_pd = (
        tok.join(F.broadcast(counts), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", neg_logp.alias("neg_logp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("neg_logp") / F.count("*"), 6).alias(
                "avg_neg_logp"
            ),
        )
    )
    assert sorted(map(tuple, per_doc.collect())) == sorted(
        map(tuple, inline_pd.collect())
    )


def test_staged_und_does_not_cache_substitute_wedge_queries(spark, sf_dir):
    """Regression pin for the cache-substitution hazard: Spark's cache
    manager swaps a persisted plan into ANY query whose analyzed
    subtree matches it, so the single-pass wedge queries (measured
    1.4-1.7x slower from cache) would silently reroute through
    staged_und once a sibling staged it — unless the staged build
    carries the repartition marker that makes its plan non-identical.
    Stage the edge table, then assert the wedge plans still contain
    zero InMemoryTableScan nodes."""
    from job_market_research_spark.ml.graph import staged_und
    from job_market_research_spark.registry import load_all

    staged_und(spark, sf_dir).count()  # materialize the cache entry
    specs = load_all()
    for name in (
        "graph_triangle_count",
        "graph_link_prediction",
        "graph_assortativity",
        "graph_clustering_coeff",
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" not in plan, (
            f"{name} was cache-substituted onto staged_und — "
            "the repartition marker in staged_und's build is gone"
        )
