"""Local mirror of the driver's Spark-vs-DuckDB compare.

Normalizes both result sets to column-name-sorted, row-sorted tuples of
canonical strings and asserts exact equality — the same invariant the
driver's order-insensitive value-hash checks.
"""

from __future__ import annotations

import datetime
import math


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr round-trips doubles exactly; identical doubles → identical text
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def oracle_con(sf_dir: str):
    """A DuckDB connection with every testdata table under `sf_dir`
    bound as a view of its own name: the tables the oracle SQL reads."""
    import duckdb

    from job_market_research_spark.io import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


def spark_result(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _kind(type_str: str) -> str:
    """Collapse a Spark simpleString / DuckDB type name to a hash-kind.

    The driver's value hash goes through pandas, where DuckDB HUGEINT
    (the result type of SUM over integers) becomes float64 while Spark
    bigint stays int64 — identical values, different hash. Giving
    HUGEINT its own kind makes the local suite fail exactly where the
    driver would.
    """
    t = type_str.strip().upper()
    if t.endswith("[]") or t.startswith("ARRAY"):
        return "list"
    if t == "HUGEINT":
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "LONG"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("STRING", "VARCHAR", "TEXT"):
        return "str"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t in ("BOOLEAN", "BOOL"):
        return "bool"
    return "other"


def assert_type_parity(df, con, sql: str, name: str = "?") -> None:
    """Column-name-matched type-kind compare (mirrors the driver hash)."""
    s_types = {f.name: _kind(f.dataType.simpleString()) for f in df.schema.fields}
    rel = con.sql(sql)
    d_types = {c: _kind(str(t)) for c, t in zip(rel.columns, rel.types)}
    mism = {
        c: (s_types[c], d_types[c])
        for c in s_types
        if c in d_types and s_types[c] != d_types[c]
    }
    assert not mism, (
        f"{name}: type-kind mismatch (spark, duck): {mism} — the driver's "
        f"pandas-based value hash WILL diverge here (e.g. wrap integer "
        f"SUM oracles in CAST(... AS BIGINT))"
    )


def _scale_of(sf_dir: str) -> str:
    import os

    return os.path.basename(os.path.normpath(sf_dir))


# --- non-vacuity probes -------------------------------------------------
# Each EMPTY_OK entry MUST carry one of these: when a query's final
# result is legitimately empty at one scale, the probe proves a
# NON-EMPTY upstream intermediate still matches the oracle at that
# scale — so the gate line never silently includes an empty-vs-empty
# comparison (r14 verdict item 1; the pre-r14 Fisher-index degeneracy
# is how vacuous green hides real defects). A probe receives
# (spark, con, sf_dir) with con's views bound to the SAME scale.


def _probe_nation_trade(spark, con, sf_dir: str) -> None:
    """The nation-pair predicate drains the 150-row smoke sample; the
    4-way fact join upstream of it must be non-empty and count-equal."""
    from job_market_research_spark.io import load

    li, o = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    c, s = load(spark, sf_dir, "customer"), load(spark, sf_dir, "supplier")
    n_spark = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .count()
    )
    n_duck = con.execute(
        "SELECT COUNT(*) FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
    ).fetchone()[0]
    assert n_spark == n_duck > 0, (
        f"agg_nation_trade_volume probe: 4-way join spark={n_spark} "
        f"duck={n_duck} — emptiness is no longer filter-legitimate"
    )


def _probe_dedup_incremental(spark, con, sf_dir: str) -> None:
    """Every 2001+ customer existed before 2001 in the smoke sample, so
    the anti-join output is empty; both anti-join INPUTS must be
    non-empty and count-equal (the emptiness is the operator working)."""
    from pyspark.sql import functions as F

    from job_market_research_spark.io import load

    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("2001-01-01 00:00:00").cast("timestamp")
    n_new = orders.filter(F.col("o_orderdate") >= cutoff).count()
    n_seen = orders.filter(F.col("o_orderdate") < cutoff).count()
    d_new, d_seen = con.execute(
        "SELECT SUM(CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' THEN 1"
        " ELSE 0 END), SUM(CASE WHEN o_orderdate < TIMESTAMP '2001-01-01'"
        " THEN 1 ELSE 0 END) FROM orders"
    ).fetchone()
    assert n_new == d_new > 0 and n_seen == d_seen > 0, (
        f"dedup_incremental probe: new spark={n_new}/duck={d_new}, "
        f"seen spark={n_seen}/duck={d_seen} — an anti-join input drained"
    )


def _probe_spatial_grid(spark, con, sf_dir: str) -> None:
    """No customer pair falls within the radius at the smoke scale; the
    adjacent-cell candidate join upstream of the distance predicate
    must be non-empty and count-equal."""
    from job_market_research_spark.operators.joins import (
        spatial_grid_candidates,
        spatial_grid_ctes,
    )

    n_spark = spatial_grid_candidates(spark, sf_dir).count()
    # The SAME pts/cells/probes CTEs the oracle uses (one source for
    # GRID_CELL and the coordinate recipe — a tuned constant cannot
    # leave this probe comparing a different grid than the query).
    n_duck = con.execute(
        f"""
        WITH {spatial_grid_ctes()}
        SELECT COUNT(*) FROM probes a
        JOIN cells b ON b.cx = a.jx AND b.cy = a.jy AND a.k < b.k
        """
    ).fetchone()[0]
    assert n_spark == n_duck > 0, (
        f"join_spatial_grid probe: candidate pairs spark={n_spark} "
        f"duck={n_duck} — the grid join itself drained"
    )


def _probe_gram_pairs(corpus_fn_name: str, corpus_sql_name: str, name: str):
    """FULL value parity on the df-capped candidate-pair frame that
    feeds the Jaccard threshold — at sf0.1 the ABSOLUTE GRAM_DF_CAP
    (the deliberate 100 TB fan-out bound: per-gram fan-out must not
    scale with corpus) legitimately drains every pair past 0.4, so the
    gate proves the candidate generator end-to-end instead (59/105
    rows at sf0.1). A relative cap would keep the final result
    non-empty but makes the pair join corpus-quadratic — rejected
    (see neardup.df_capped)."""

    def probe(spark, con, sf_dir: str) -> None:
        from job_market_research_spark.ml import neardup as nd

        corpus = getattr(nd, corpus_fn_name)(spark, sf_dir)
        pairs, _sizes = nd.gram_pairs_and_sizes(corpus)
        sql = (
            f"WITH {nd.gram_pairs_ctes(getattr(nd, corpus_sql_name))} "
            "SELECT doc_a, doc_b, inter FROM jpairs ORDER BY doc_a, doc_b"
        )
        assert_parity(pairs, con, sql, name=f"{name}::candidate_pairs", sf_dir=sf_dir)

    return probe


#: (query name, scale) pairs allowed to return ZERO rows, each mapped
#: to its MANDATORY non-vacuity probe (run in place of the value-hash
#: comparison the emptiness voids). Keyed by scale (ADVICE r14): the
#: old name-only set also excused emptiness at scales where rows are
#: documented to exist — a regression emptying dedup_ngram_jaccard at
#: sf0.01 (the driver gate scale) would have passed vacuously.
EMPTY_OK: dict[tuple[str, str], object] = {
    # filters drain the 150-row/6k-row smoke tables; non-empty at
    # sf0.01 (driver gate) and sf0.1 — where this allowlist no longer
    # applies, so emptiness there now FAILS the gate.
    ("agg_nation_trade_volume", "sf0.001"): _probe_nation_trade,
    ("dedup_incremental", "sf0.001"): _probe_dedup_incremental,
    # ALSO empty at sf0.1 (0 of 13 227 post-cutoff orders carry an
    # unseen custkey there; 5 survive at sf0.01, the driver's gate
    # scale) — found by THIS scale-keyed rework: the old name-only
    # allowlist asserted "non-empty at sf0.1" in a comment nothing
    # checked, and the r14 sf0.1 gate silently included the
    # empty-vs-empty row. The probe proves both anti-join inputs
    # non-empty and count-equal at the empty scales.
    ("dedup_incremental", "sf0.1"): _probe_dedup_incremental,
    ("join_spatial_grid", "sf0.001"): _probe_spatial_grid,
    # empty at sf0.1 only: synthetic corpus vocabulary does not grow
    # with scale, so gram df rises linearly past GRAM_DF_CAP and the
    # planted near-dup pairs lose their shared grams. Non-empty at
    # sf0.001/sf0.01, where the driver's gate runs.
    ("dedup_ngram_jaccard", "sf0.1"): _probe_gram_pairs(
        "augmented_corpus", "AUGMENTED_CORPUS_SQL", "dedup_ngram_jaccard"
    ),
    ("dedup_cluster_cc", "sf0.1"): _probe_gram_pairs(
        "_cc_corpus", "CC_CORPUS_SQL", "dedup_cluster_cc"
    ),
}


def assert_parity(df, con, sql: str, name: str = "?", sf_dir: str | None = None) -> None:
    # The DRIVER canonicalizes via pandas sort_values over every output
    # column; a list/struct/map-typed column is unhashable there and the
    # whole row crashes (round-3 multimodal_embed_extract failure). The
    # local _canon handles lists fine, so without this guard the local
    # suite passes where the driver dies — fail here instead.
    complex_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, (
        f"{name}: complex-typed output columns {complex_cols} break the "
        f"driver's pandas canonicalization — explode or serialize them"
    )
    s_cols, s_rows = spark_result(df)
    d_cols, d_rows = duck_result(con, sql)
    if not s_rows:
        key = (name, _scale_of(sf_dir)) if sf_dir else None
        assert key in EMPTY_OK, (
            f"{name}: empty result at scale "
            f"{key[1] if key else '<unknown — pass sf_dir>'} — the "
            f"value-hash comparison is vacuous (empty matches empty). "
            f"If the emptiness is data-legitimate at THIS scale only, "
            f"add ((name, scale) → non-empty-intermediate probe) to "
            f"EMPTY_OK; otherwise fix the query's constants against "
            f"the testdata ranges (see the r14 Fisher-index degeneracy "
            f"in SCALE.md)."
        )
        # The emptiness voids the value comparison below — run the
        # entry's probe instead so the gate still proves a non-empty
        # invariant at this scale.
        EMPTY_OK[key](df.sparkSession, con, sf_dir)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert_type_parity(df, con, sql, name)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sn = normalize(s_cols, s_rows)
    dn = normalize(d_cols, d_rows)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
