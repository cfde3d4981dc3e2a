"""Workload definitions: fixed query lists, the seed-driven order, and the
query -> operator-module map used to attribute llm_index time.

Every list is committed here so that two commits benchmarked with the
same seed run the same operations in the same order.  The program only
ever receives the data directory and the query names.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# The full lists the timed subsets are drawn from live in the program: the
# 42 SQL-analytics queries are the ``q*``/``s*`` names of
# ``plans.QUERIES`` without the store-backed ``s14_brand_pagerank``, and
# the 43 store-backed extension queries are ``store_read_queries`` in
# ``BENCH_DETAIL.json``.

# The timed subsets.  A run pays ~15 s of cold JVM + catalog set-up before
# its first query, and the whole benchmark must fit a fixed wall budget,
# so a run can afford a first pass of under a minute, the output check,
# a few untimed warm-up passes and a few seconds of timed warm passes.

#: star join + aggregate, null-aware anti-join, rank window over the
#: cached view, set operations, salted skew join, churn date arithmetic,
#: z-order locality.  Queries with 150k-row results (q14, q16) are left
#: out: comparing their output with the oracle costs more than a whole
#: warm pass.  So is the self-join affinity (s04_affinity_types): at
#: ~2.5 s warm and ~6 s cold it alone took as long as the other seven,
#: and the llm_index trainers need that share of the wall budget.
OLAP_QUERIES = (
    "q04_rev_by_geo", "q13b_not_in_null_aware", "q11_type_rank_nation0",
    "s12_retention_setops", "s15_skew_salted", "q08_churn_rate",
    "s13_zorder_locality",
)

#: one store-training query per operator module.  No two of them share a
#: store kind, so each trains its own kinds in the first pass, and the
#: first pass holds the cold-path trainers that dominate a cold run:
#: product quantisation (sim_pq_topk, 2 kinds), brand PageRank
#: (s14_brand_pagerank), boilerplate scoring (cur_boilerplate, 3 kinds),
#: bm25 postings and doclens, simhash signatures, media phash and the
#: z-ordered lineitem; 11 kinds in all.
#: This is the first pass's order.  Its first query pays the JVM's JIT
#: warm-up, so a cheap trainer goes first.
#: Four of the seven answer in under 0.1 s warm, so the median warm
#: sample falls inside that group.  With three fast and three slow
#: queries it would fall in the gap between the groups and swing from
#: run to run.
#: Left out: sim_ivfpq_topk, whose DuckDB oracle alone takes ~45 s at
#: sf0.01, and the other readers of these stores.
LLM_INDEX_QUERIES = (
    "tx_bm25_topk",
    "dd_simhash",
    "sim_pq_topk",
    "cur_boilerplate",
    "mm_phash",
    "s14_brand_pagerank",
    "pipe_layout_rebuild",
)

#: query-name prefix -> operator module; the longest matching prefix wins.
OPERATOR_PREFIXES = {
    "sim_": "similarity",
    "dd_": "dedup",
    "tx_": "text",
    "cur_": "curation",
    "pipe_": "curation",
    "pipe_layout_": "layout",
    "mm_": "multimodal",
    "s14_brand_pagerank": "graph",
}


def operator_of(name: str) -> str | None:
    """Operator module a query's time is attributed to, or None."""
    best = max((p for p in OPERATOR_PREFIXES if name.startswith(p)), key=len, default=None)
    return OPERATOR_PREFIXES[best] if best else None


#: operator modules the timed llm_index queries exercise; the traced run
#: reports each one's action time.
OPERATOR_MODULES = tuple(sorted({operator_of(q) for q in LLM_INDEX_QUERIES}))


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: True: run over the split-row-group copy; False: the shipped layout.
    split_layout: bool
    #: True: start from an empty index store and expect training only.
    fresh_store: bool
    #: untimed passes between the output check and the timed warm passes.
    #: JIT warm-up still slows the passes after the check: on olap the
    #: first eight passes fall from ~1.3x to ~1x the later ones, on
    #: llm_index the first two or three are ~1.1-1.3x.
    warmup_passes: int
    why: str


WORKLOADS = {
    "olap": Workload(
        "olap", OLAP_QUERIES, split_layout=True, fresh_store=False, warmup_passes=6,
        why="the reference's SQL-analytics shapes over 64k-row row groups, "
        "so scans, joins, aggregates and windows run as several tasks; "
        "reads no index store",
    ),
    "llm_index": Workload(
        "llm_index", LLM_INDEX_QUERIES, split_layout=False, fresh_store=True, warmup_passes=2,
        why="store-backed LLM-data operators from an empty index store: the "
        "first pass trains and writes store kinds, warm passes read them back",
    ),
}


def pass_orders(queries: tuple[str, ...], seed: int):
    """Endless query orders, one per warm pass, fixed by ``seed`` alone.
    The first pass of a run is not drawn from here: it runs ``queries``
    in their committed order, so that every run pays the same cold costs
    at the same places."""
    rng = random.Random(seed)
    while True:
        order = list(queries)
        rng.shuffle(order)
        yield order
