"""Self-test: the timed action must not run the pruned ``count()`` plan.

``df.count()`` lets Catalyst drop every output column, and with them the
text kernels: for ``doc_bpe_encode`` and ``doc_substring_dup`` the count
plan scans ``documents`` with an empty read schema. This test runs the
benchmark's own timed action (``batch.materialize``) on a small slice of
the documents and fails if the plan it executed reads the same columns
as the count plan, or leaves out the ``text`` column the kernels read.

    python3 perfbench/selftest.py        # exits 1 on failure

Every traced ``batch_kernels`` run (``--trace 1``) also runs it, after
the traced pass, and counts a failure as a failed result.
"""

from __future__ import annotations

import os
import re
import sys

import batch
import inputs

GATES = ("doc_bpe_encode", "doc_substring_dup")
SLICE_ROWS = 40
_READ_SCHEMA = re.compile(r"ReadSchema: (struct<[^\n]*>)")


def _read_schemas(plan: str) -> list[str]:
    return sorted(_READ_SCHEMA.findall(plan))


def pruned_gates(spark, queries, sf_dir: str, work: str) -> list[str]:
    """Names of the gates whose timed plan reads no more than their count plan."""
    small = inputs.truncated(sf_dir, os.path.join(work, "selftest"), "documents", SLICE_ROWS)
    store = spark._jsparkSession.sharedState().statusStore()
    bad = []
    for g in GATES:
        df = queries[g].fn(spark, small)
        batch.materialize(df)
        executions = store.executionsList()
        timed = executions.apply(executions.size() - 1).physicalPlanDescription()
        counted = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
        reads = _read_schemas(timed)
        if reads == _read_schemas(counted) or not any("text:string" in r for r in reads):
            print(f"[perfbench] self-test: {g} ran the pruned plan, reads {reads}", file=sys.stderr)
            bad.append(g)
    return bad


def main() -> int:
    import run

    work = run.prepare("selftest")
    spark, queries, _ = run.setup(len(os.sched_getaffinity(0)), repeats=0)
    try:
        bad = pruned_gates(spark, queries, inputs.inputs_dir(0), work)
    finally:
        run.shutdown(spark)
        run.clean(work)
    print("self-test:", "FAILED " + ", ".join(bad) if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
