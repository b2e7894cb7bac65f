"""Benchmark entry point.

    python3 perfbench/run.py --workload search|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout that holds ``codeindex_spark``. One JVM
per run (Spark ``local[nproc]``), one closed-loop client thread. Prints
the workload's named metrics, then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
ones with ``--trace 1``. A traced run also writes its spans and stage
metrics to ``.perfbench_work/layers-<workload>-seed<N>.json``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "3g"  # well below host RAM, leaving room for other jobs


def host_env() -> None:
    """Settings that fit the run to the host: single-threaded native
    math (Spark owns the cores) and a fixed scratch directory inside
    the checkout."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY


def start_spark(run_dir: str):
    from codeindex_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Dderby.system.home={run_dir}",
            # the traced run reads every stage back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def declared_units() -> dict[str, str]:
    """Unit of each per-layer metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def with_units(layers: dict[str, float], units: dict[str, str]) -> dict:
    """The per-layer result object; the metrics measured must be
    exactly the ones BENCHMARK.json declares."""
    if set(layers) != set(units):
        raise ValueError(
            "per-layer metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(layers))}, undeclared "
            f"{sorted(set(layers) - set(units))}")
    return {k: {"value": layers[k], "unit": units[k]} for k in units}


def end_to_end(res) -> dict:
    from workloads import median

    return {
        "setup_s": (res.setup_s, "s"),
        "build_docs_per_s": (res.build_rows / res.build_s, "docs/s"),
        "search_p50_ms": (median(res.search_ms), "ms"),
        "write_p50_s": (median(res.write_s), "s"),
        "index_bytes_per_input_byte": (res.index_bytes / res.input_bytes, "ratio"),
    }


def named_lines(workload: str, res, e2e: dict) -> list[str]:
    """The workload's own metrics by name and unit (METRICS.md)."""
    from workloads import percentile, tail_percentile

    out = dict(e2e)
    n = len(res.search_ms)
    p = tail_percentile(n)
    if p >= 50:
        out["search_tail_ms"] = (percentile(res.search_ms, p), f"ms (p{p}, n={n})")
    out.update(res.named)
    out["failed_op_ratio"] = (res.failed / max(1, res.attempted), "ratio")
    lines = [f"metric {workload}.{k} {v:.6g} {u}" for k, (v, u) in out.items()]
    if p < 50:
        lines.append(f"metric {workload}.search_tail_ms n/a ms (n={n}: fewer than "
                     "10 samples beyond the median)")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "codeindex_spark")):
        print(f"perfbench: no codeindex_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    host_env()
    import workloads
    from spans import Tracer

    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = start_spark(run_dir)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            workloads.hook_layers(tracer)
        run = {"search": workloads.run_search,
               "ingest": workloads.run_ingest}[args.workload]
        res = run(spark, tracer, run_dir, args.seed, args.seconds, T_START)
        e2e = end_to_end(res)
        for line in named_lines(args.workload, res, e2e):
            print(line)
        for p in res.problems[:20]:
            print(f"FAILED {p}")
        if args.trace:
            stages = tracer.stage_metrics()
            layers = workloads.layer_metrics(tracer, stages, res, args.workload)
            sidecar = os.path.join(WORK, f"layers-{args.workload}-seed{args.seed}.json")
            with open(sidecar, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "metrics": layers,
                           **tracer.dump(stages)}, f)
            metrics = with_units(layers, declared_units())
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
