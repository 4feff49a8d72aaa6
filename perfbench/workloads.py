"""The benchmark's workloads: which registry queries each one runs, and why.

Every workload is a closed loop with one client: a single process runs
one query at a time, each as `QuerySpec.fn(spark, sf_dir)` followed by a
`noop` write. The run seed only orders each pass's query stream.

The two workloads split the engine's mechanisms between them: the
interactive one has no staged frames, Python workers or writes, the
batch one has all three, so each mechanism is exercised by one workload
and bypassed by the other. Every run pays a JVM start and a cold pass
(15-30 s on 4 cores), which is what limits the benchmark to two
workloads of a handful of queries each within its time budget.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Scale of the generated tables (lineitem = 6M x SF rows). At this
#: scale the fixed per-query cost (planning, job scheduling, codegen)
#: dominates, which is what the workloads are chosen to expose.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: Print per-query latency quantiles: a user waits on each query.
    latency_quantiles: bool = False


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "dashboard",
            "analyst-facing star-schema latency over a warm session: Catalyst "
            "and job scheduling, no staging, no Python workers, no writes",
            (
                "join_star_wide",
                "join_sector_count",
                "agg_count_2keys",
                "agg_monthly_growth",
                "topk_hard_skills",
                "topk_companies",
                "agg_count_distinct",
                "join_skill_profile",
            ),
            latency_quantiles=True,
        ),
        Workload(
            "pipeline",
            "the reference ETL plus corpus curation as a fresh-process batch: sinks writing "
            "during plan build, Arrow Python workers, URL and near-dup dedup on staged frames",
            (
                "scan_jsonl_repair",
                "filter_required_fields",
                "fn_date_multiformat",
                "text_llm_enrich",
                "dedup_by_url",
                "dedup_minhash_lsh",
                "text_lm_perplexity",
                "sink_json_overwrite",
            ),
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_index: int) -> list[str]:
    """The query stream of one pass: the workload's queries in an order
    fixed by (workload, seed, pass index)."""
    names = list(workload.queries)
    random.Random(f"{workload.name}:{seed}:{pass_index}").shuffle(names)
    return names
