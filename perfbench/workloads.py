"""The benchmark's operations and the correctness check of each.

An operation is one call a user of the engine makes through a public
entry point: a registry query (``QuerySpec.build`` + ``toPandas``), one
``run_pipeline`` call, or one ``operators.graph`` algorithm. Each has a
``check`` that runs outside the timed window and raises
``AssertionError`` when the output is wrong.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench.datagen import symmetric

# The dashboard / analyst read path at sf0.1: supplier dashboard reads,
# TPC-H-style analytics, and the four queries whose work crosses the
# Python/Arrow boundary (mapInPandas) last. This list and REPLAYS are cut
# to what fits the run budget (two workloads, 48 runs in under an hour on
# four cores); perfbench/README.md lists what was left out.
ANALYST_QUERIES = (
    "top10_risk_suppliers", "kpi_tiles_filtered", "preview_suppliers",
    "distinct_countries", "bottom5_on_time",
    "pricing_summary", "shipping_priority", "revenue_decile_shares",
    "lineitem_column_profile", "quantity_percentiles_by_flag",
    "events_sessionize", "monthly_revenue_growth",
    "multimodal_features", "multimodal_image_pixel_stats",
    "multimodal_png_pixel_stats", "text_profile",
)
# Bounded streaming replays through micro-batches and state stores.
REPLAYS = (
    "streaming_enrichment_equivalence", "streaming_sliding_equivalence",
    "streaming_session_equivalence",
)
# Registry operations that fail their oracle check on some or all seeded
# inputs today, with the seeds (of 0-25) that showed it. The timed
# workloads leave them out (every timed registry query checked green on
# all of 0-25); ``--workload known_failures`` runs them through the same
# gate.
KNOWN_FAILURES = {
    "streaming_throttle_equivalence":
        "the streaming replay keeps fewer events than its batch twin; seeds 2, 7",
    # The rest round an exact decimal tie (a rate or mean whose decimal
    # expansion ends in 5 one digit past the ROUND scale); Spark and
    # DuckDB round the tie apart.
    "events_hourly_rollup":
        "ROUND(AVG(value), 6); seeds 1, 5-7, 10, 11, 13, 18, 23-25",
    "supplier_kpis": "ROUND(on-time rate, 6); seeds 6, 19",
    "supplier_risk_summary": "ROUND(on-time rate, 6); seeds 6, 19",
    "supplier_risk_display": "ROUND(mean delay days, 2); seeds 12, 18, 20",
}

GRAPH_ALGOS = ("cc", "pagerank", "hits", "bfs", "lpa")

_PY_NODES = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython\w*|"
    r"BatchEvalPython\w*|FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas)\b"
)


@dataclass
class Op:
    name: str
    kind: str  # "read", "replay", "pipeline" or "graph"
    run: Callable  # (ctx) -> result; the timed call
    check: Callable  # (ctx, result) -> None; raises AssertionError
    outputs: Callable  # result -> the pandas frames the call returned
    frame: Callable = lambda result: None  # result -> DataFrame to re-run


# --- registry queries -----------------------------------------------------


def plan_facts(df) -> dict:
    """Node, exchange and Python-node counts of the physical plan."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in tree.splitlines() if ln.strip()]
    return {
        "plan.nodes": len(lines),
        "plan.exchanges": sum("Exchange" in ln for ln in lines),
        "arrow.python_nodes": len(_PY_NODES.findall(tree)),
    }


def registry_op(name: str, kind: str) -> Op:
    def run(ctx):
        spec = ctx.registry[name]
        with ctx.tracer.span("build"):
            df = spec.build(ctx.spark, ctx.sf_dir)
        if ctx.traced:
            with ctx.tracer.span("plan") as s:
                s.counts.update(plan_facts(df))
        with ctx.tracer.span("collect"):
            pdf = df.toPandas()
        return df, pdf

    def check(ctx, result):
        from tests.oracle_utils import assert_frames_match, run_oracle

        spec = ctx.registry[name]
        if name not in ctx.oracle_cache:
            ctx.oracle_cache[name] = run_oracle(ctx.sf_dir, spec.oracle)
        assert_frames_match(
            result[1], ctx.oracle_cache[name], name, spec.approx_cols
        )

    return Op(name, kind, run, check, lambda r: [r[1]], frame=lambda r: r[0])


# --- daily pipeline -------------------------------------------------------

PIPELINE_STAGES = {
    "generate_supplier_domain": "pipeline.generate",
    "write_parquet": "pipeline.write",
    "row_counts": "pipeline.quality",
    "assert_unique_key": "pipeline.quality",
    "assert_referential_integrity": "pipeline.quality",
    "compute_supplier_kpis": "pipeline.kpis",
    "supplier_risk_summary": "pipeline.risk",
}


def pipeline_op(n_suppliers: int, n_pos: int) -> Op:
    def run(ctx):
        from supplier_performance_data_pipeline_spark.generator import (
            GeneratorConfig,
        )
        from supplier_performance_data_pipeline_spark.plans.pipeline import (
            run_pipeline,
        )

        ctx.pipeline_runs += 1
        out = os.path.join(ctx.work, f"warehouse-{ctx.pipeline_runs}")
        cfg = GeneratorConfig(
            seed=ctx.seed + ctx.pipeline_runs,
            n_suppliers=n_suppliers,
            n_pos=n_pos,
        )
        tables = run_pipeline(ctx.spark, out, cfg)
        with ctx.tracer.span("collect"):
            risk = tables["supplier_risk_summary"].toPandas()
        return out, tables, risk

    def check(ctx, result):
        out, tables, risk = result
        try:
            check_pipeline(tables, risk, n_suppliers, n_pos)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return Op("daily_pipeline", "pipeline", run, check, lambda r: [r[2]])


def check_pipeline(tables, risk: pd.DataFrame, n_suppliers: int, n_pos: int):
    """The pandas recompute of ``tests/test_pipeline.py``: KPIs per
    supplier from the loaded tables, then the risk composite."""
    counts = tables["_row_counts"]
    assert counts["suppliers"] == n_suppliers, counts
    assert counts["purchase_orders"] == n_pos, counts
    assert counts["deliveries"] == n_pos, counts
    po = tables["purchase_orders"].toPandas()
    d = tables["deliveries"].toPandas()
    kpis = tables["supplier_kpis"].toPandas().set_index("supplier_id")
    j = po.merge(d, on="po_id")
    j["delay"] = (
        pd.to_datetime(j.delivery_date) - pd.to_datetime(j.promised_date)
    ).dt.days
    j["on_time"] = (j.delivery_date <= j.promised_date).astype(int)
    g = j.groupby("supplier_id")
    exp = pd.DataFrame({
        "n_pos": g.size(),
        "on_time_delivery_rate": g.on_time.mean(),
        "avg_delivery_delay_days": g.delay.mean(),
        "fill_rate": g.quantity_delivered.sum() / g.quantity_ordered.sum(),
        "quality_issue_rate": g.quality_issues.mean(),
    })
    got = kpis.loc[exp.index, exp.columns]
    assert (got.n_pos == exp.n_pos).all(), "n_pos mismatch"
    np.testing.assert_allclose(
        got.to_numpy(dtype=float), exp.to_numpy(dtype=float), rtol=1e-9
    )
    perf = (
        risk.norm_on_time + risk.norm_delay + risk.norm_fill + risk.norm_quality
    ) / 4.0
    expected = 0.7 * (1.0 - perf) + 0.3 * (risk.financial_risk_score / 100.0)
    np.testing.assert_allclose(risk.performance_score, perf, rtol=1e-9)
    np.testing.assert_allclose(risk.risk_score, expected, rtol=1e-9)
    assert len(risk) == len(exp), "risk rows"
    assert ((risk.norm_on_time >= 0) & (risk.norm_on_time <= 1)).all()


# --- graph algorithms -----------------------------------------------------

# PageRank and HITS are compared with an unrounded numpy power iteration.
# The engine rounds contributions to 12 and ranks to 9 decimals each round
# (HITS: scores to 12), so three rounds differ from the reference by a
# few 1e-9 at most; 1e-8 absolute is the stated tolerance.
FLOAT_ATOL = 1e-8


def graph_op(algo: str) -> Op:
    def run(ctx):
        from supplier_performance_data_pipeline_spark.operators import graph

        spark = ctx.spark
        with ctx.tracer.span(f"graph.{algo}"):
            if algo == "cc":
                stats: dict = {}
                df = graph.connected_components(
                    spark.read.parquet(ctx.graph_path), "u", "v",
                    stats_out=stats,
                )
                ctx.tracer.spans[-1].counts["graph.cc_rounds"] = stats["rounds"]
                frames = [df]
            else:
                sym = spark.read.parquet(ctx.sym_path)
                if algo == "pagerank":
                    frames = [graph.pagerank(sym)]
                elif algo == "hits":
                    frames = list(graph.hits_scores(sym))
                elif algo == "bfs":
                    frames = [graph.bfs_distances(sym, ctx.bfs_source)]
                else:
                    frames = [graph.label_propagation(sym)]
        with ctx.tracer.span("collect"):
            pdfs = [f.toPandas() for f in frames]
        return frames, pdfs

    def check(ctx, result):
        GRAPH_CHECKS[algo](ctx.graph_edges, ctx.bfs_source, result[1])

    return Op(algo, "graph", run, check, lambda r: r[1], frame=lambda r: r[0][0])


def _check_cc(edges, source, pdfs):
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {v: find(v) for v in parent}
    got = dict(zip(pdfs[0]["id"].tolist(), pdfs[0]["component"].tolist()))
    assert got == exp, "connected components differ from union-find"


def _check_bfs(edges, source, pdfs):
    from supplier_performance_data_pipeline_spark.operators.graph import (
        BFS_ROUNDS,
    )

    sym = symmetric(edges)
    adj: dict[int, list[int]] = {}
    for u, v in sym.tolist():
        adj.setdefault(u, []).append(v)
    dist, frontier = {source: 0}, [source]
    for d in range(1, BFS_ROUNDS + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    got = dict(zip(pdfs[0]["node"].tolist(), pdfs[0]["dist"].tolist()))
    assert got == dist, "BFS distances differ"


def _check_lpa(edges, source, pdfs):
    from supplier_performance_data_pipeline_spark.operators.graph import (
        LPA_ITERS,
    )

    sym = pd.DataFrame(symmetric(edges), columns=["u", "v"])
    labels = pd.Series(sym.u.unique(), index=sym.u.unique())
    for _ in range(LPA_ITERS):
        votes = sym.assign(lbl=sym.u.map(labels)).groupby(["v", "lbl"]).size()
        votes = votes.rename("c").reset_index()
        best = votes.sort_values(["v", "c", "lbl"], ascending=[True, False, True])
        best = best.drop_duplicates("v")
        labels = pd.Series(best.lbl.to_numpy(), index=best.v.to_numpy())
    got = dict(zip(pdfs[0]["s"].tolist(), pdfs[0]["lbl"].tolist()))
    assert got == labels.to_dict(), "label propagation differs"


def _power_iteration(edges, kind: str):
    from supplier_performance_data_pipeline_spark.operators.graph import (
        HITS_ITERS,
        PR_DAMP,
        PR_ITERS,
    )

    sym = symmetric(edges)
    nodes, inv = np.unique(sym, return_inverse=True)
    ui, vi = inv.reshape(-1, 2).T
    n = len(nodes)
    if kind == "pagerank":
        deg = np.bincount(ui, minlength=n).astype(float)
        r = np.full(n, 1.0 / n)
        for _ in range(PR_ITERS):
            inbound = np.bincount(vi, weights=r[ui] / deg[ui], minlength=n)
            r = (1 - PR_DAMP) / n + PR_DAMP * inbound
        return nodes, r, None
    # Symmetric edges: every node is both a hub and an authority.
    h = np.full(n, 1.0 / n)
    a = None
    for _ in range(HITS_ITERS):
        a = np.bincount(vi, weights=h[ui], minlength=n)
        a /= a.sum()
        h = np.bincount(ui, weights=a[vi], minlength=n)
        h /= h.sum()
    return nodes, a, h


def _close(nodes, ref, keys, vals, what):
    got = pd.Series(vals.to_numpy(dtype=float), index=keys.to_numpy())
    assert len(got) == len(nodes), f"{what}: {len(got)} vs {len(nodes)} nodes"
    err = np.abs(got.loc[nodes].to_numpy() - ref).max()
    assert err <= FLOAT_ATOL, f"{what}: max abs error {err:.3g}"


def _check_pagerank(edges, source, pdfs):
    nodes, r, _ = _power_iteration(edges, "pagerank")
    _close(nodes, r, pdfs[0]["s"], pdfs[0]["r"], "pagerank")


def _check_hits(edges, source, pdfs):
    nodes, a, h = _power_iteration(edges, "hits")
    _close(nodes, a, pdfs[0]["v"], pdfs[0]["a"], "hits authority")
    _close(nodes, h, pdfs[1]["u"], pdfs[1]["h"], "hits hub")


GRAPH_CHECKS = {
    "cc": _check_cc,
    "bfs": _check_bfs,
    "lpa": _check_lpa,
    "pagerank": _check_pagerank,
    "hits": _check_hits,
}
