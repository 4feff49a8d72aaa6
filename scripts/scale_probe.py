#!/usr/bin/env python
"""10× scale probe for the top-cost families (r15 verdict item 5).

Every 100 TB claim in SCALE.md is argued from plan shape at sf0.1 —
correctly, but unmeasured. Testdata is read-only and capped at sf0.1,
so this script synthesizes a scratch ~sf1 corpus (N_COPIES key-shifted
copies of sf0.1) and runs one head query per top-cost family at 1× and
at N_COPIES×, recording wall time (noop-sink, per guide §1.4) and the
family's scale-critical INTERMEDIATE row count — the quantity that
must grow linearly for the 100 TB story to hold (candidate pairs for
the banded dedup/ANN joins, wedges for the oriented triangle join,
postings rows for IR).

Corpus synthesis keeps DENSITY constant while multiplying volume, so
linear growth is the expected-correct reading (not an artifact):
- documents: copy c shifts doc_id by c*N and suffixes every token
  with _c<c>, so shingle/token sets are DISJOINT across copies (10
  exact copies would collide in every LSH bucket and make pair counts
  quadratic BY CONSTRUCTION — a corpus-density change, not a banding
  failure). Near-dup structure within each copy is preserved exactly.
- embeddings: copy c shifts vec_id by c*N and perturbs each component
  by a deterministic per-copy epsilon, so copies don't stack into
  identical LSH buckets. label kept (per-label volume scales).
- events: copy c shifts event_id / user_id (density per user constant).

The 1× side is copy 0 written through the same writer, so file layout
and doc_id domain are identical and the comparison is pure volume.

Usage: python scripts/scale_probe.py [n_copies] [work_dir]
Writes the markdown table to stdout; run on a quiet machine and paste
into SCALE.md with the canary stamps.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"


def synthesize(spark, out_dir: str, copies: int) -> None:
    """Write documents/embeddings/events (key-shifted, salted) and
    symlink the untouched TPC-H tables."""
    from pyspark.sql import functions as F

    from job_market_research_spark.io import load

    os.makedirs(out_dir, exist_ok=True)
    docs = load(spark, SRC, "documents")
    emb = load(spark, SRC, "embeddings")
    ev = load(spark, SRC, "events")
    n_docs = docs.count()
    n_vec = emb.count()
    n_ev = ev.count()
    n_users = 1500

    d_parts, e_parts, v_parts = [], [], []
    for c in range(copies):
        salt = (
            docs.select(
                (F.col("doc_id") + c * n_docs).alias("doc_id"),
                F.expr(
                    f"array_join(transform(split(text, ' '),"
                    f" t -> if(t = '', t, concat(t, '_c{c}'))), ' ')"
                ).alias("text")
                if c
                else F.col("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        d_parts.append(salt)
        e_parts.append(
            emb.select(
                (F.col("vec_id") + c * n_vec).alias("vec_id"),
                F.expr(
                    f"transform(embedding, (x, i) ->"
                    f" x + cast(({c} * (i + 3)) % 7 - 3 as double) * 0.001d)"
                ).alias("embedding")
                if c
                else F.col("embedding"),
                "label",
            )
        )
        v_parts.append(
            ev.select(
                (F.col("event_id") + c * n_ev).alias("event_id"),
                "ts",
                (F.col("user_id") + c * n_users).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    for name, parts in (
        ("documents", d_parts),
        ("embeddings", e_parts),
        ("events", v_parts),
    ):
        path = os.path.join(out_dir, f"{name}.parquet")
        union_all(parts).coalesce(max(1, copies // 2)).write.mode(
            "overwrite"
        ).parquet(path)
    for t in (
        "lineitem",
        "orders",
        "customer",
        "part",
        "supplier",
        "nation",
        "region",
    ):
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)


def noop_time(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def probe(spark, sf_dir: str) -> list[tuple[str, str, float, int]]:
    """Run the family heads at sf_dir. Returns
    [(family, metric, wall_sec, intermediate_rows)]."""
    from pyspark.sql import functions as F

    from job_market_research_spark.io import load
    from job_market_research_spark.ml import graph as g
    from job_market_research_spark.ml import ir as ir_mod
    from job_market_research_spark.ml import neardup as nd
    from job_market_research_spark.ml import similarity as sim

    rows = []

    # --- dedup: banded minhash LSH ---------------------------------
    spark.sparkContext.setJobDescription(f"scale-probe dedup {sf_dir}")
    walls = [noop_time(nd.q_dedup_minhash_lsh(spark, sf_dir)) for _ in range(2)]
    shingles = nd.staged_shingles(spark, sf_dir).count()
    bands = nd.staged_minhash_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    rows.append(("dedup", "minhash_lsh wall", min(walls), 0))
    rows.append(("dedup", "shingle rows", 0.0, shingles))
    rows.append(("dedup", "band candidate pairs", 0.0, cand))

    # --- ANN: banded hyperplane LSH --------------------------------
    spark.sparkContext.setJobDescription(f"scale-probe ann {sf_dir}")
    walls = [noop_time(sim.q_ann_lsh_bucketed(spark, sf_dir)) for _ in range(2)]
    emb = sim.staged_embeddings(spark, sf_dir).select("vec_id", "v")
    sigs = emb.select(
        "vec_id", F.posexplode(sim.lsh_band_signatures(dim=64)).alias("band", "bsig")
    )
    # lsh_band_signatures reads column `v`; rename qv accordingly
    qsigs = (
        sim._query_vector(spark, sf_dir)
        .select(F.col("qv").alias("v"))
        .select(F.posexplode(sim.lsh_band_signatures(dim=64)).alias("band", "bsig"))
    )
    ann_cand = (
        sigs.join(F.broadcast(qsigs), ["band", "bsig"])
        .select("vec_id")
        .distinct()
        .count()
    )
    rows.append(("ann", "lsh_bucketed wall", min(walls), 0))
    rows.append(("ann", "bucket candidates", 0.0, ann_cand))

    # --- graph: oriented wedge triangle count ----------------------
    spark.sparkContext.setJobDescription(f"scale-probe graph {sf_dir}")
    walls = [
        noop_time(g.q_graph_triangle_count(spark, sf_dir)) for _ in range(2)
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id")
    und = g._undirected_edges(docs, docs.count())
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("t"),
        )
    )
    e1 = ori.select("s", F.col("t").alias("y"))
    e2 = ori.select("s", F.col("t").alias("z"))
    wedges = e1.join(e2, "s").filter(F.col("y") < F.col("z")).count()
    edges = und.count()
    rows.append(("graph", "triangle_count wall", min(walls), 0))
    rows.append(("graph", "und edges", 0.0, edges))
    rows.append(("graph", "oriented wedges", 0.0, wedges))

    # --- IR: two-pass BM25 (Rocchio PRF head) ----------------------
    spark.sparkContext.setJobDescription(f"scale-probe ir {sf_dir}")
    walls = [noop_time(ir_mod.q_ir_rocchio_prf(spark, sf_dir)) for _ in range(2)]
    postings = ir_mod.staged_ws_tcounts(spark, sf_dir).count()
    rows.append(("ir", "rocchio_prf wall", min(walls), 0))
    rows.append(("ir", "postings rows", 0.0, postings))

    # --- exact: scaled-long limb sums vs wide-decimal (r17, VERDICT
    # r16 item 3) — the product-moment aggregate family head. The
    # limb-recombined sum must stay BIT-identical to the wide-decimal
    # sum as volume grows (overflow would wrap silently, non-ANSI);
    # the probe also reports the observed hi-limb partial magnitude so
    # the headroom claim (N_safe ~8.8e12 rows/group for the 3-limb
    # split) is checked against data, not just bounds.
    import struct as _struct

    from job_market_research_spark.exact import (
        _hilo3_sum_as_decimal,
        _hilo_sum_as_decimal,
    )

    spark.sparkContext.setJobDescription(f"scale-probe exact {sf_dir}")
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v2 = F.round(F.col("value") * 100).cast("long")
    d10 = F.col("value").cast("decimal(28,10)")
    per_group = ev.groupBy("event_type").agg(
        (_hilo_sum_as_decimal(v2) / F.lit(100)).cast("double").alias("sy_l"),
        F.sum(d10).cast("double").alias("sy_d"),
        (_hilo3_sum_as_decimal(v2 * v2) / F.lit(10_000))
        .cast("double")
        .alias("syy_l"),
        F.sum(d10 * d10).cast("double").alias("syy_d"),
        # the 2-limb hi partial |sum(v>>20)| — the quantity whose wrap
        # at 9.2e18 the 3-limb split exists to prevent; reporting it
        # shows the headroom consumed scaling linearly with volume
        F.abs(F.sum(F.shiftright(v2 * v2, 20))).alias("hi20_mag"),
        F.count("*").alias("n"),
    )
    t0 = time.time()
    got = per_group.collect()
    wall = time.time() - t0
    bits = lambda x: _struct.pack("<d", x)  # noqa: E731
    mism = sum(
        1
        for r in got
        if bits(r.sy_l) != bits(r.sy_d) or bits(r.syy_l) != bits(r.syy_d)
    )
    assert mism == 0, f"scaled-long/decimal sum mismatch in {mism} groups"
    max_hi = max(r.hi20_mag for r in got)
    rows.append(("exact", "limb-vs-decimal moment pass wall", wall, 0))
    rows.append(("exact", "bit-matching groups (of groups)", 0.0, len(got)))
    rows.append(("exact", "events rows summed", 0.0, sum(r.n for r in got)))
    rows.append(("exact", "max |sum(v2^2 >> 20)| (wraps at 9.2e18)", 0.0, max_hi))
    return rows


def cpu_canary() -> float:
    t0 = time.time()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.time() - t0


def main() -> None:
    from job_market_research_spark.session import get_spark

    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/r16_scale"
    shutil.rmtree(work, ignore_errors=True)
    x1, xn = os.path.join(work, "x1"), os.path.join(work, f"x{copies}")

    spark = get_spark(app_name="scale-probe")  # SPARK_GRAFT_CPUS sizes it
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    print(f"canary at start: {cpu_canary():.4f}  defaultParallelism: {par}")
    synthesize(spark, x1, 1)
    synthesize(spark, xn, copies)

    r1 = probe(spark, x1)
    rn = probe(spark, xn)
    print(f"canary at end: {cpu_canary():.4f}  defaultParallelism: {par}")

    print(f"\n| family | metric | x1 | x{copies} | ratio |")
    print("|---|---|---|---|---|")
    for (fam, met, w1, c1), (_, _, wn, cn) in zip(r1, rn):
        if c1 or cn:
            ratio = cn / c1 if c1 else float("inf")
            print(f"| {fam} | {met} | {c1} | {cn} | {ratio:.2f}× |")
        else:
            ratio = wn / w1 if w1 else float("inf")
            print(f"| {fam} | {met} | {w1:.2f}s | {wn:.2f}s | {ratio:.2f}× |")


if __name__ == "__main__":
    main()
