"""The benchmark's workloads: which registered queries each one runs.

Each run pays 5-9 s of set-up, a cold pass of 12-22 s of JIT and
Python-worker warm-up, and settle passes before anything is timed, and the
whole benchmark (22 runs a workload) must fit in under an hour. So each
workload is a sample of its query families, sized to a steady pass of
about 3-5 s at sf0.01 on 4 cores; README.md lists the families and why.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # JVM-only: relational and TPC-H queries where per-query fixed costs
    # (builder call, py4j, planning, job scheduling) dominate, and two
    # pipeline queries with eager builder jobs, a lineage cut and Exchanges
    "jvm": (
        "filter_eq_project", "agg_group_minmax", "join_broadcast_dims",
        "tpch_q1", "tpch_q5",
        "graph_kcore_peel", "dedup_containment",
    ),
    # every plan holds a Python evaluation node: the JVM-Python boundary
    # (Arrow batches, Python workers, pandas) dominates
    "python_udf": (
        "udf_pandas_sigmoid", "udaf_grouped_pandas", "udtf_bigrams",
        "multimodal_metadata", "multimodal_ppm_roundtrip", "multimodal_image_dedup",
    ),
}

# Untimed noop passes between the cold pass and the timed ones. On `jvm` the
# JVM's JIT compiler is still busy for about five passes after the cold one:
# CPU per pass falls by about a third over them, so timing any earlier ties
# the result to how far the warm-up got. The `python_udf` passes are flat
# from the first pass after the cold one. A fifth `jvm` settle pass would
# not fit the time the whole benchmark has.
SETTLE_PASSES: dict[str, int] = {"jvm": 4, "python_udf": 1}
