"""Self-test of the benchmark's failure accounting.

A query with a wrong result and queries that raise (in the builder, or
inside Spark while the result is written) must each count as failed, in the
oracle pass and in timed passes with tracing off and on, and must stay in
the mix. Run from the repository root; exit status 0 means it held::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import shutil
import sys

import run


def wrong_result(good):
    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        return good(spark, sf_dir).withColumn("revenue", F.col("revenue") * 2)

    return build


def raises_in_builder(spark, sf_dir):
    raise RuntimeError("injected builder failure")


def raises_in_spark(spark, sf_dir):
    return spark.range(4).selectExpr("raise_error('injected task failure') AS x")


def main() -> int:
    cores, tmp = run.pin_environment()
    sys.path.insert(0, str(run.ROOT))
    try:
        from spark_query_engine import operators, queries, session

        spark = session.get_session()
        try:
            real, oracles = queries.queries(), queries.oracle_sql()
            fns = {
                "tpch_q6": real["tpch_q6"],
                "wrong": wrong_result(real["tpch_q6"]),
                "raises_in_builder": raises_in_builder,
                "raises_in_spark": raises_in_spark,
            }
            oracle = {name: oracles["tpch_q6"] for name in fns}
            tracer = run.Tracer()
            run.instrument(tracer, queries, operators)
            b = run.Bench(spark, fns, str(run.DATA), cores, spark.sparkContext._gateway.proc.pid, tracer)
            order = list(fns)

            checks = []
            b.oracle_pass(order, oracle)
            checks.append(("oracle pass", (b.tally.attempted, b.tally.failed), (4, 3)))
            b.run_pass(order, "plain")
            # a noop sink cannot see a wrong value; only the oracle pass can
            checks.append(("untraced pass", (b.tally.attempted, b.tally.failed), (8, 5)))
            tracer.active = True
            traced = b.run_pass(order, "traced", traced=True)
            tracer.active = False
            checks.append(("traced pass", (b.tally.attempted, b.tally.failed), (12, 7)))
            checks.append(("traced pass kept all queries", len(traced.latencies), 4))
        finally:
            run.shutdown(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ok = True
    for what, got, want in checks:
        good = got == want
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {what}: got {got}, want {want}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
