"""Query planning above Catalyst (reference §4; src/query_engine.rs:254-372).

Catalyst owns expression/join planning; what it can't know is which *index
strategy* to use for a similarity query — that's data the engine tracks
(corpus size, available index tables, the metadata filter's selectivity).
The reference's QueryOptimizer only clamps parameters (limit<=100,
threshold>=0.1, src/query_engine.rs:254-337) and rewrites requests
(src/query_engine.rs:271-372); we keep those clamps API-compatible and add
the real decision as a documented cost rule:

1. ``effective_rows = corpus_rows * filter_selectivity`` — the rows a
   search must actually score. A harsh filter shrinks the problem below
   any index's overhead.
2. ``effective_rows <= brute_force_limit`` -> **brute_force**: the exact
   filtered scan is one narrow pass + TakeOrderedAndProject (zero
   shuffle), beats index-probe overhead, and has no filtered-ANN recall
   caveats. This fires BOTH for small corpora and for selective filters
   over huge ones.
3. graph index present AND ``filter_selectivity >= graph_min_selectivity``
   -> **graph_walk**: the best measured recall/cost of the approximate
   paths (RECALL.md: R@10 0.99 at beam 32), per-hop cost corpus-size
   independent. Gated on selectivity because the walk navigates the
   UNFILTERED graph and the predicate gates only the final top-k — under
   a harsh filter the visited set starves of passing candidates (the
   classic filtered-HNSW failure; HNSW's ef-expansion rule of thumb),
   and IVF (which filters INSIDE the probed cells) is the safer route.
4. IVF present -> **ivf**: nprobe-pruned scan + exact rescore; the probe
   scans nprobe/nlist of the corpus regardless of the filter, and the
   filter applies within scanned cells, so selectivity does not gate it.
5. SQ8 present -> **sq_two_stage** (coarse rank keeps magnitude info ->
   better recall than 1-bit hamming at the same rescore budget), else
   packed binary -> **binary_two_stage**.
6. Nothing -> exact scan (correct; the reason string says to build an
   index).

These are *physical strategy picks over index tables*, not Catalyst rules:
every choice is still a declarative DataFrame plan that AQE re-optimizes at
runtime.

The facade calls the rule from one place, ``GrapeVectorDB._route``, over
the selectivity of the filter gate it built once for the call
(``GrapeVectorDB._gate``); ``search`` executes that decision and
``search_plan`` returns it, so EXPLAIN cannot drift from what runs.
"""

from __future__ import annotations

from dataclasses import dataclass

MAX_LIMIT = 100          # src/query_engine.rs:254-263
MIN_THRESHOLD = 0.1      # src/query_engine.rs:321-337

# Below this many (filtered) rows the exact scan wins: one narrow pass at
# ~1M rows costs less than an index probe's fixed plan overhead, and
# recall is exact by construction.
BRUTE_FORCE_LIMIT = 1_000_000

# The beam walk post-filters; under selectivity < 20% the visited set is
# unlikely to retain k passing candidates at default beam/hops, so route
# to IVF (in-cell filtering) instead.
GRAPH_MIN_SELECTIVITY = 0.2


@dataclass
class PlanChoice:
    strategy: str        # "brute_force" | "graph_walk" | "ivf" | "sq_two_stage" | "binary_two_stage"
    reason: str


def clamp_request(limit: int, threshold: float | None) -> tuple[int, float | None]:
    """Reference parameter clamps (QueryOptimizer::optimize_query)."""
    limit = min(limit, MAX_LIMIT)
    if threshold is not None and threshold < MIN_THRESHOLD:
        threshold = MIN_THRESHOLD
    return limit, threshold


def choose_search_strategy(
    corpus_rows: int,
    has_ivf: bool = False,
    has_packed: bool = False,
    has_sq: bool = False,
    has_graph: bool = False,
    filter_selectivity: float = 1.0,
    brute_force_limit: int | None = None,
    graph_min_selectivity: float | None = None,
) -> PlanChoice:
    """The module-docstring cost rule, in order. ``corpus_rows`` is the
    UNFILTERED corpus size; ``filter_selectivity`` the fraction the
    metadata filter keeps (1.0 = no filter). The threshold defaults
    late-bind to the module constants so tests (and operators) can
    lower BRUTE_FORCE_LIMIT to surface the index-preference order at
    sub-threshold corpus sizes."""
    if brute_force_limit is None:
        brute_force_limit = BRUTE_FORCE_LIMIT
    if graph_min_selectivity is None:
        graph_min_selectivity = GRAPH_MIN_SELECTIVITY
    effective = int(corpus_rows * filter_selectivity)
    if effective <= brute_force_limit:
        why = (
            f"effective rows {effective} (= {corpus_rows} x "
            f"selectivity {filter_selectivity:.3g}) <= {brute_force_limit}"
        )
        return PlanChoice("brute_force", why)
    if has_graph and filter_selectivity >= graph_min_selectivity:
        return PlanChoice(
            "graph_walk",
            f"graph index available and selectivity "
            f"{filter_selectivity:.3g} >= {graph_min_selectivity} "
            "(post-filter walk keeps enough passing candidates)",
        )
    if has_ivf:
        return PlanChoice("ivf", "IVF index tables available")
    if has_sq:
        # SQ8 coarse ranking keeps magnitude info -> better recall than
        # 1-bit hamming at the same rescore budget; prefer it when present
        return PlanChoice("sq_two_stage", "SQ8 index table available")
    if has_packed:
        return PlanChoice("binary_two_stage", "packed binary index available")
    if has_graph:
        # the graph EXISTS but the selectivity gate rejected it — say
        # so: the old "no index tables (build an index!)" told the
        # operator to build an index they already built, hiding the
        # real cause in the surfaced EXPLAIN reason
        return PlanChoice(
            "brute_force",
            f"graph index present but filter selectivity "
            f"{filter_selectivity:.3g} < {graph_min_selectivity} (the "
            f"post-filter walk would starve); exact scan over "
            f"{effective} rows",
        )
    return PlanChoice(
        "brute_force",
        f"no index tables; exact scan over {effective} rows (build an index!)",
    )
