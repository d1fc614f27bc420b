"""Physical-strategy planner for similarity search.

SURVEY §4: "custom logic lives above Catalyst as a Python planner that
picks: exact vs ANN path, nProbe, overquery, and whether to apply the
filter before or after stage 1" — the reference makes the same choices in
code (``GraphSearcher`` picks a SearchScoreProvider; filters deliberately
stay accept-bits, GraphSearcher.java:129-139). Catalyst owns everything
below (scans, pushdown, join physical ops); this layer owns the choices
above it, and *reports* them so callers and tests can assert plan shape.

Rules (in order):

1. selective accept-id collections -> exact filter-first over the accepted
   subset (the low-cardinality pivot; exact, cheapest);
2. an index provided -> fused IVF scan (n_probe/overquery knobs, optional
   fine probing on two-level indexes, filters inside the scan);
3. no index, small query batch -> broadcast numpy k-NN join;
4. no index, corpus-sized query side -> distributed 2-D blocked join.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class SearchPlan:
    """The chosen physical strategy plus the knobs that shaped it."""

    strategy: str  # exact_filter_first | ivf_fused | broadcast_numpy | blocked
    df: DataFrame
    knobs: dict = field(default_factory=dict)

    def explain(self) -> str:
        kv = ", ".join(f"{k}={v}" for k, v in sorted(self.knobs.items()))
        return f"SearchPlan[{self.strategy}]({kv})"


def plan_knn(
    queries: DataFrame,
    k: int,
    corpus: DataFrame | None = None,
    index=None,
    metric: str = "COSINE",
    predicate=None,
    accept_ids=None,
    n_probe: int = 8,
    overquery: float = 4.0,
    n_probe_fine: int | None = None,
) -> SearchPlan:
    """Pick and build the k-NN plan. Provide ``index`` (an ``IVFIndex``)
    and/or ``corpus`` (a DataFrame of id/vec); at least one is required.
    Returns a :class:`SearchPlan` whose ``df`` is the (lazy) result."""
    from jvector_spark.operators import exact

    if index is None and corpus is None:
        raise ValueError("plan_knn needs an index and/or a corpus DataFrame")

    # materialize ONCE — a generator accept list must not be exhausted by
    # the rule checks before it reaches the operator
    if accept_ids is not None and not isinstance(accept_ids, DataFrame):
        accept_ids = [int(i) for i in accept_ids]

    # rule 1: selective accept-list -> exact filter-first (cheapest + exact)
    if (
        isinstance(accept_ids, list)
        and index is not None
        and predicate is None
        and len(accept_ids) <= index.FILTER_PIVOT_ROWS
    ):
        df = index.search(queries, k, accept_ids=accept_ids)
        return SearchPlan("exact_filter_first", df, {"accepted": len(accept_ids)})

    # rules 2-4 route the query side HERE (route_query_batch's one
    # take(cap + 1)) and pass the route explicitly so the plan can report
    # it: broadcast for point-query batches, the uncapped distributed
    # joins for corpus-sized query sides.
    big = exact.route_query_batch(queries, "qid", "vec", "plan_knn", "auto") is None

    # rule 2: indexed corpus -> fused IVF scan
    if index is not None:
        route = "distributed" if big else "broadcast"
        df = index.search(
            queries, k, n_probe=n_probe, overquery=overquery,
            predicate=predicate, accept_ids=accept_ids, n_probe_fine=n_probe_fine,
            strategy=route,
        )
        knobs = {"n_probe": n_probe, "overquery": overquery,
                 "rerank": index.manifest.rerank, "spill": index.manifest.spill,
                 "query_route": route}
        if n_probe_fine:
            knobs["n_probe_fine"] = n_probe_fine
        return SearchPlan("ivf_fused", df, knobs)

    # rules 3/4: exact join over a raw corpus; filter first (always exact)
    c = corpus
    if predicate is not None:
        c = c.filter(predicate)
    if accept_ids is not None:
        if isinstance(accept_ids, DataFrame):
            c = c.join(accept_ids.select("id"), "id", "semi")
        else:
            c = c.filter(exact.in_list("id", accept_ids))
    strategy = "blocked" if big else "numpy"
    df = exact.knn_join(c, queries, k, metric=metric, strategy=strategy)
    return SearchPlan(
        "blocked" if big else "broadcast_numpy", df,
        {"metric": metric, "query_cap": exact.BROADCAST_QUERY_CAP},
    )
