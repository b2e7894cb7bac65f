"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Runs each workload once, traced, on a tiny input in one Spark session,
and checks that every end-to-end and per-layer metric BENCHMARK.json
names is produced (the end-to-end ones with their unit), that the
layers the workload runs read above zero, and that the checks pass.
Then runs each workload again with one result tampered with (a
perturbed score, a dead doc in a result) and checks that it counts as
a failed operation and that its layers still read above zero. Exits 0
when all of this holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run

TINY = dict(search_docs=120, ingest_docs=100, churn=0.05)
# per-layer metrics that read above zero when the layer ran: the
# four IndexBuilder steps, the query's plan and exec phases and the index
# files on both workloads; the incremental index's steps on ingest
RAN = (
    "segments.plan.jobs", "segments.write_docs.busy_s",
    "segments.build_group.jobs", "segments.build_group.busy_s",
    "segments.finalize.jobs", "planner.plan.ms",
    "planner.plan.jobs_per_query", "planner.exec.jobs_per_query",
    "index.postings_bytes",
)
RAN_INGEST = ("maintain.apply.jobs", "maintain.compact.busy_s",
              "maintain.segments", "maintain.search.exec.ms")


def expect(ok: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        problems.append(what)


def main() -> int:
    if not os.path.isdir(os.path.join(run.ROOT, "codeindex_spark")):
        print(f"selftest: no codeindex_spark package under {run.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, run.ROOT)
    run.host_env()
    import workloads
    from spans import Tracer

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        want_e2e = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    want_layers = run.declared_units()

    def check_layers(label: str, res) -> None:
        layers = workloads.layer_metrics(tracer, tracer.stage_metrics(), res,
                                         label.split("-")[0])
        expect(set(layers) == set(want_layers), f"{label}: per-layer metrics "
               f"(missing {sorted(set(want_layers) - set(layers))}, "
               f"extra {sorted(set(layers) - set(want_layers))})", problems)
        ran = RAN + (RAN_INGEST if label.startswith("ingest") else ())
        zero = [k for k in ran if not layers.get(k, 0) > 0]
        expect(not zero, f"{label}: layers it runs read above zero "
               f"(zero: {zero})", problems)

    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run.start_spark(work)
    problems: list[str] = []
    try:
        tracer = Tracer(spark, enabled=True)
        workloads.hook_layers(tracer)
        sizes = workloads.Sizes(**TINY)
        for name, fn, tamper in (
            ("search", workloads.run_search,
             lambda got: [(got[0][0], got[0][1] * (1 + 1e-6))] + got[1:]),
            ("ingest", workloads.run_ingest,
             lambda got: got[:-1] + [("repo00", "src/deleted.py", "c0")]),
        ):
            tracer.reset()
            d = os.path.join(work, name)
            os.makedirs(d)
            res = fn(spark, tracer, d, 7, 0.0, time.monotonic(), sizes)
            expect(res.failed == 0 and res.attempted >= 2,
                   f"{name}: {res.attempted} ops, {res.failed} failed {res.problems[:3]}",
                   problems)
            e2e = {k: u for k, (_, u) in run.end_to_end(res).items()}
            expect(e2e == want_e2e, f"{name}: end-to-end metrics and units", problems)
            check_layers(name, res)
            named = " ".join(run.named_lines(name, res, run.end_to_end(res)))
            expect("failed_op_ratio" in named, f"{name}: named metrics printed", problems)

            d = os.path.join(work, name + "-tampered")
            os.makedirs(d)
            tracer.reset()
            res = fn(spark, tracer, d, 8, 0.0, time.monotonic(), sizes, tamper=tamper)
            expect(res.failed >= 1, f"{name}: a tampered result counts as failed "
                   f"({res.failed} of {res.attempted})", problems)
            check_layers(name + "-tampered", res)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
