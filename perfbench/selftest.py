"""Self-tests of the benchmark's own parts (``run.py --selftest``).

1. Inputs: one seed gives an identical corpus, documents, probe keys
   and operation order; two seeds give disjoint url sets, and absent
   probe keys never collide with table or appended rows.
2. Status-store reader: on a tiny encoded table, a point lookup run
   under a job group yields nonzero ``jobs`` and ``executor_run_s``.
"""

from __future__ import annotations

import itertools


def expect(cond, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def check_inputs() -> None:
    from perfbench import inputs

    def plan(seed):
        return list(itertools.islice(inputs.lookup_plan(seed, 500, 20), 60))

    for seed in (0, 7):
        ids = inputs.table_ids(seed, 300)
        expect(inputs.webtext(ids).equals(inputs.webtext(ids)), "corpus")
        expect(inputs.documents(seed, 200).equals(
            inputs.documents(seed, 200)), "documents")
        expect(plan(seed) == plan(seed), "operation plan")
    expect(plan(0) != plan(7), "two seeds give the same plan")

    def urls(seed):
        ids = list(inputs.table_ids(seed, 300)) + list(
            inputs.append_ids(seed, 300, 2, 20))
        return set(inputs.webtext(ids).column("url").to_pylist())

    a, b = urls(0), urls(7)
    expect(len(a) == 320 and not a & b, "two seeds share urls")
    absent = {inputs.url_of(inputs.absent_id(0, i)) for i in range(300)}
    expect(not absent & a, "an absent key names a written row")


def check_status_reader(spark, work: str) -> None:
    import os

    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.table import ManifestTable

    from perfbench import inputs
    from perfbench.status import StatusReader

    tbl = ManifestTable(os.path.join(work, "selftest"), "blocks")
    checkpoint.encode_with_checkpoint(
        spark, inputs.webtext_df(spark, 0, 0, 500, 2), tbl)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-selftest", "lookup", False)
    url = inputs.url_of(int(inputs.table_ids(0, 500)[123]))
    rows = checkpoint.point_lookup(spark, tbl, url).collect()
    sc._jsc.clearJobGroup()
    expect(len(rows) == 1, f"lookup returned {len(rows)} rows")
    g = StatusReader(spark).read(["perfbench-selftest"])["perfbench-selftest"]
    expect(g.jobs > 0 and g.executor_run_s > 0, f"empty group metrics {g}")
    print(f"status reader: jobs={g.jobs} "
          f"executor_run_s={g.executor_run_s:.3f} "
          f"executor_cpu_s={g.executor_cpu_s:.3f}")


def main(work, cpus) -> int:
    from perfbench.run import start_spark, stop_spark

    check_inputs()
    print("inputs: deterministic per seed, disjoint across seeds")
    spark = start_spark(cpus)
    try:
        check_status_reader(spark, str(work))
    finally:
        stop_spark(spark)
    print("selftest ok")
    return 0
