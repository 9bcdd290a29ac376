"""Round-10 scaling measurements (r9 verdict tasks 1 and 6).

Two measurement sets:

``rows`` — sf0.1/0.3/1 exponent rows for the three queries the r9
driver-ambient run pushed over the close gate's heavyweight threshold
(``basket_association_rules``, ``dedup_ngram_jaccard``,
``multimodal_frame_sample``) plus the new priced high-recall MinHash
point (``dedup_minhash_highrecall``) — min-of-2, noop sink, the same
protocol as every other SCALING.md exponent row.

``graph`` — the iterative-graph family at sf1 AND sf3 (30 replicas —
the exponent table previously topped out at sf1, where driver-sync
round costs are still small; at 100× the risk is per-round job latency
× round count). For each of the five queries the ROUND COUNT is
recorded next to the wall time:

- ``corpus_graph_pagerank`` / ``graph_hits_bipartite``: fixed 5 / 2
  rounds by construction (power iteration with pinned state).
- ``graph_kcore_peel``: delta-peel until the frontier empties,
  bounded by the 6-round unroll; rounds exposed via
  ``graph_kcore_peel.last_rounds``.
- ``dedup_cluster_components``: star-contraction fixpoint — the
  O(log n) claim; rounds exposed via
  ``connected_components_star.last_rounds``.
- ``graph_triangle_count``: not iterative (single wedge join pass);
  included because it is the family's heaviest member.

Under weak-scaling by DISJOINT replicas the round count of a fixpoint
loop is the max over components — mathematically scale-invariant here
(every replica repeats the same component structure), so a measured
round-count INCREASE at sf3 would flag a convergence-probe defect;
the wall-time row measures whether per-round job cost stays linear.

sf3 inputs are generated on first use (30 replicas via the existing
structure-preserving generators in gen_scaling_data / gen_scaling_tpch).

r11 adds ``tri`` — the DOULION accuracy/speed envelope (r10 verdict
task 1): at each dir, run the exact ``graph_triangle_count`` and the
sampled ``graph_triangle_sampled``, ASSERT |est/exact − 1| within the
envelope (±2 % for triangles, ±1 % for edges — generous multiples of
the ~0.4 % binomial σ at the budgeted E[sampled triangles] ≈ 65 k,
leaving room for the shared-edge variance term), and report min-of-2
wall times for the speedup row. A violation exits non-zero.

r11 also adds ``cold`` — the SCALING.md 10c cold-session protocol as
a reusable subcommand (r10 verdict task 2): run the named queries at
sf0.1 in THIS fresh process (invoke from a new python, quiet box),
3 runs each with run 1 excluded as JVM/codegen warmup, preceded by an
8-query canary probe whose per-query min-of-2 is compared against the
committed BENCH_FULL.json record to price the session's ambient.

r11 also adds ``top10`` — sf1/sf3 rows for the non-graph half of the
driver's wall-clock top-10 (r10 verdict task 3), same min-of-2
protocol as ``graph``.

Usage:  python tools/r10_scaling.py rows|graph|tri|top10 [sf_dirs...]
        python tools/r10_scaling.py cold <query> [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

SCALING = ROOT / ".scaling_data"

ROWS_QUERIES = [
    "basket_association_rules",
    "dedup_ngram_jaccard",
    "multimodal_frame_sample",
    "dedup_minhash_highrecall",
    "dedup_minhash",  # the default-recall twin, same protocol, for the price ratio
]

#: r11 (r10 verdict task 3): the non-graph half of the driver's
#: wall-clock top-10 — sf3 rows to complete the 10d pattern (the
#: graph family got sf3 + round counts in r10).
TOP10_QUERIES = [
    "pipeline_dedup_cascade",
    "dedup_ngram_prefix",
    "corpus_dedup_keep_best",
    "stats_poisson_bootstrap",
    "corpus_ivf_occupancy",
    "dedup_cluster_purity",
]

GRAPH_QUERIES = [
    "graph_triangle_count",
    "corpus_graph_pagerank",
    "graph_kcore_peel",
    "graph_hits_bipartite",
    "dedup_cluster_components",
]


def ensure_sf3() -> str:
    out = SCALING / "sf3"
    if not (out / "lineitem.parquet").exists():
        print("generating sf3 (30 replicas) ...", flush=True)
        import gen_scaling_data
        import gen_scaling_tpch

        gen_scaling_data.gen(SCALING, 30, "sf3")
        gen_scaling_tpch.gen(SCALING, 30, "sf3")
    return str(out)


def measure(names: list[str], sf_dirs: list[str]) -> None:
    from spark_query_engine import queries as registry
    from spark_query_engine.queries import graph
    from spark_query_engine.operators import dedup as D
    from spark_query_engine.session import get_session

    spark = get_session("r10-scaling")
    qs = registry.queries()
    for name in names:
        for sf_dir in sf_dirs:
            runs = []
            rounds = None
            for _ in range(2):
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as e:
                    print(f"{name} @ {sf_dir}: FAILED {e!r:.160}")
                    runs = None
                    break
                finally:
                    spark.catalog.clearCache()
                runs.append(time.time() - t0)
                if name == "dedup_cluster_components":
                    rounds = getattr(
                        D.connected_components_star, "last_rounds", None
                    )
                elif name == "graph_kcore_peel":
                    rounds = getattr(
                        graph.graph_kcore_peel, "last_rounds", None
                    )
            if runs is None:
                continue
            tag = f" rounds={rounds}" if rounds is not None else ""
            print(
                f"{name} @ {Path(sf_dir).name}: "
                f"min {min(runs):.2f}s (runs {[round(r, 2) for r in runs]})"
                f"{tag}",
                flush=True,
            )


def tri_envelope(sf_dirs: list[str]) -> int:
    """Sampled-vs-exact triangle adjudication: accuracy asserted,
    speed reported. Returns a non-zero exit code on violation."""
    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("r11-tri")
    qs = registry.queries()
    failures = 0
    for sf_dir in sf_dirs:
        tag = Path(sf_dir).name
        if not Path(f"{sf_dir}/lineitem.parquet").exists():
            print(f"tri @ {tag}: SKIP (lineitem absent)")
            continue
        times: dict[str, list[float]] = {}
        rows: dict[str, dict] = {}
        for name in ("graph_triangle_sampled", "graph_triangle_count"):
            # run 1: collect the values (doubles as JVM/codegen
            # warmup, excluded from timing per the standing protocol)
            rows[name] = qs[name](spark, sf_dir).collect()[0].asDict()
            spark.catalog.clearCache()
            times[name] = []
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times[name].append(time.time() - t0)
                spark.catalog.clearCache()
        exact, samp = rows["graph_triangle_count"], rows["graph_triangle_sampled"]
        tri_err = samp["est_triangles"] / exact["n_triangles"] - 1.0
        edge_err = samp["est_edges"] / exact["n_edges"] - 1.0
        t_e = min(times["graph_triangle_count"])
        t_s = min(times["graph_triangle_sampled"])
        ok = abs(tri_err) <= 0.02 and abs(edge_err) <= 0.01
        if not ok:
            failures += 1
        print(
            f"tri @ {tag}: p={samp['sample_p']:.3f} "
            f"est {samp['est_triangles']:.0f} vs exact "
            f"{exact['n_triangles']} (err {tri_err*100:+.2f}%); "
            f"edges err {edge_err*100:+.2f}%; "
            f"exact {t_e:.2f}s vs sampled {t_s:.2f}s "
            f"(speedup x{t_e / t_s:.2f}) "
            f"[{'OK' if ok else 'ENVELOPE VIOLATION'}]",
            flush=True,
        )
    return failures


#: The canary probe of the 10c protocol: 8 cheap untouched-since-r1
#: queries spanning scan/agg/join/window/dedup/text/events families.
COLD_CANARY = [
    "tpch_q1",
    "filter_eq_project",
    "agg_group_minmax",
    "limit_topk",
    "join_broadcast_dims",
    "window_topk_per_group",
    "text_quality",
    "events_tumbling_window",
]


def cold_protocol(names: list[str], sf_dir: str = "/root/testdata/sf0.1") -> None:
    import json

    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("cold-protocol")
    qs = registry.queries()

    def min_of(name: str, n_runs: int) -> tuple[float, list[float]]:
        runs = []
        for i in range(n_runs):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
            spark.catalog.clearCache()
        # run 1 = warmup, excluded by protocol
        return min(runs[1:]), runs

    committed = json.loads((ROOT / "BENCH_FULL.json").read_text())["queries"]
    ratios = []
    for c in COLD_CANARY:
        m, _ = min_of(c, 3)
        if committed.get(c):
            ratios.append(m / committed[c])
    ratios.sort()
    ambient = ratios[len(ratios) // 2] if ratios else 1.0
    print(f"canary probe: median x{ambient:.3f} vs committed BENCH_FULL.json")

    for name in names:
        m, runs = min_of(name, 3)
        base = committed.get(name)
        vs = (
            f" vs committed {base:.2f}s (x{m / base:.2f} raw, "
            f"x{m / base / ambient:.2f} ambient-adjusted)"
            if base
            else ""
        )
        print(
            f"cold {name}: min-of-2 {m:.2f}s "
            f"(runs {[round(r, 2) for r in runs]}){vs}",
            flush=True,
        )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "rows"
    if mode == "rows":
        dirs = sys.argv[2:] or [
            "/root/testdata/sf0.1",
            str(SCALING / "sf0.3"),
            str(SCALING / "sf1"),
        ]
        measure(ROWS_QUERIES, dirs)
    elif mode == "graph":
        dirs = sys.argv[2:] or [str(SCALING / "sf1"), ensure_sf3()]
        measure(GRAPH_QUERIES, dirs)
    elif mode == "top10":
        dirs = sys.argv[2:] or [str(SCALING / "sf1"), ensure_sf3()]
        measure(TOP10_QUERIES, dirs)
    elif mode == "tri":
        dirs = sys.argv[2:] or [
            "/root/testdata/sf0.1",
            str(SCALING / "sf0.3"),
            str(SCALING / "sf1"),
            ensure_sf3(),
        ]
        raise SystemExit(tri_envelope(dirs))
    elif mode == "cold":
        if len(sys.argv) < 3:
            raise SystemExit("cold mode needs query names")
        cold_protocol(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
