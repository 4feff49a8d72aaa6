"""Plan-shape pins for the TPC-H-derived benchmark classics
(plans/classics.py): correctness is covered by test_oracle_parity's
registry sweep; these assert the PLANS are the ones a 100 TB run needs
— pushdown on the pure-scan aggregate, semi/anti joins for the
decorrelated subqueries, and no cartesian product under the
disjunctive-predicate join."""

from __future__ import annotations

import os

from job_market_research_spark.plans.classics import (
    q_agg_order_priority_semi,
    q_agg_revenue_forecast,
    q_filter_inactive_customers,
    q_join_disjunctive_pred,
    q_topk_large_volume_orders,
    q_topk_returned_customers,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_revenue_forecast_pushes_all_predicates(spark, sf_dir):
    """Q6 is pushdown-or-nothing: every predicate must reach the scan
    and ReadSchema must carry only the four referenced columns."""
    plan = _plan(q_agg_revenue_forecast(spark, sf_dir))
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema, read_schema


def test_order_priority_exists_is_semi_join(spark, sf_dir):
    """The EXISTS must decorrelate to LeftSemi — a rewrite through
    inner join + distinct would duplicate-inflate before dedup."""
    plan = _plan(q_agg_order_priority_semi(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_large_volume_in_subquery_is_semi_join(spark, sf_dir):
    plan = _plan(q_topk_large_volume_orders(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_inactive_customers_not_exists_is_anti_join(spark, sf_dir):
    plan = _plan(q_filter_inactive_customers(spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_disjunctive_pred_keeps_equi_join(spark, sf_dir):
    """Q19's OR-of-ANDs must ride the partkey hash join as a residual
    filter — the historical planner failure is a cartesian product."""
    plan = _plan(q_join_disjunctive_pred(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_returned_customers_topk_no_global_sort(spark, sf_dir):
    plan = _plan(q_topk_returned_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_nation_trade_volume_nonempty_at_sf001(sf_dir):
    """agg_nation_trade_volume is legitimately empty at the smoke SF
    (10 suppliers / 25 nations); pin that the driver's sf0.01 gate
    sees real rows so the parity sweep is never vacuous."""
    from job_market_research_spark.registry import load_all
    from tests.oracle_utils import oracle_con

    con = oracle_con(os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    sql = load_all()["agg_nation_trade_volume"].oracle
    assert len(con.execute(sql).fetchall()) > 0


def test_waiting_orders_has_semi_and_anti_joins(spark, sf_dir):
    """Q21's double correlation must decorrelate into one LeftSemi
    (another supplier exists) AND one LeftAnti (no other late one)."""
    from job_market_research_spark.plans.classics import q_join_waiting_orders

    plan = _plan(q_join_waiting_orders(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_product_profit_broadcasts_filtered_part(spark, sf_dir):
    from job_market_research_spark.plans.classics import (
        q_agg_product_type_profit,
    )

    plan = _plan(q_agg_product_type_profit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # The LIKE filter must reach SOME scan's pushed filters (the part
    # scan — other scans don't reference p_name at all).
    assert any(
        "p_name" in seg.split("\n")[0]
        for seg in plan.split("PushedFilters")[1:]
    ), plan
