"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analyst_folder --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads (see workloads.py):

- ``analyst_folder``: the product path. The 30 ``examples/analyst_sql``
  files plus the 12 ``examples/analyst_sql_rejects`` files, in name order,
  run through ``SqlFolderPipeline(dialect="mysql")`` over ``register_views``
  into ``GoogleSheetsSink`` -> ``HttpDriveClient`` -> a fake Drive server
  on loopback (drive_server.py), updating sheets an earlier run published.
- ``engine``: three of bench.py's headline registry queries, each collected
  to the driver as Arrow, then half the documents table, sampled and
  shuffled by the seed into parquet drops, replayed by a file-source stream
  into ``DedupIngestForeachBatch``.

Inputs are a fixed synthetic sf0.1 catalog (fixtures.py) whose rows are
permuted by ``--seed``. A run sets up (session and catalog views) three
times, then runs whole passes over the items until ``--seconds`` have
passed. ``setup_s`` is the median set-up; on ``analyst_folder`` it also
holds a warm-up that sends one file through the pipeline (reported alone
as ``warmup_s``). A pass is longer than the configured run length, so a
run times exactly one pass, as a fresh process such as a scheduled run
pays it. Outputs are checked after the timed region: sheets and query
results against ``expected.json`` (digests of the DuckDB oracles, see
expect.py), rejected files by status, the stream by invariants.
``python3 perfbench/selftest.py`` checks those checks.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload with spans around calls into the program's layers and Spark
status-store totals per item, prints the per-layer metrics and writes the
spans with a host record to ``perfbench/_out/``. It fails if a metric of
a layer the workload drives was not recorded; the metrics of layers it does
not drive read 0. The tracing overhead is the traced run's
``traced.wall_s`` minus the untraced run's ``wall_s``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Exit status is non-zero, with no result line, if the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _launch_env(out_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: workers import
    the program from the checkout whatever the current directory, and
    Spark's and the JVM's scratch files stay inside the checkout."""
    local_dirs = os.path.join(out_dir, "spark-local")
    tmp = os.path.join(out_dir, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp
    # appended to any options already set: the JVM's temporary files go to
    # the checkout, and -XX:-UsePerfData stops it writing /tmp/hsperfdata_*
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    sys.path.insert(0, ROOT)


def _stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(HERE, "_out")
    _launch_env(out_dir)
    import fixtures
    import workloads
    from measure import Tracer, host_record

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import sheetsetl_spark  # noqa: F401  (fail before staging if the program is absent)

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    if expected["generator"] != fixtures.GENERATOR_VERSION:
        raise RuntimeError("expected.json was made for another fixture generator; run expect.py")
    sf_dir = fixtures.stage(os.path.join(HERE, "_data"), args.seed)
    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    ctx = workloads.Context(
        root=ROOT,
        work=work,
        sf_dir=sf_dir,
        seed=args.seed,
        seconds=args.seconds,
        expected=expected,
        tracer=Tracer() if args.trace else None,
    )
    load_start = os.getloadavg()
    try:
        setup_s, walls, items, peak_mb, attempted, failed = workloads.WORKLOADS[args.workload](ctx)
        e2e = workloads.summarize(ctx, setup_s, walls, items, peak_mb)
        ctx.layer["failed_frac"] = failed / attempted
        host = host_record(ctx.spark, args.seed)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
    host.update(load_start=load_start, load_end=os.getloadavg(), workload=args.workload)
    for err in ctx.errors:
        print(f"perfbench: {err}", file=sys.stderr)

    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = _per_layer_units()
        measured = workloads.LAYER_METRICS[args.workload]
        missing = [n for n in measured if n not in ctx.layer or n not in units]
        if missing:
            print(f"perfbench: traced run recorded no value for {missing}", file=sys.stderr)
            return 1
        # The result names every per-layer metric; those of layers this
        # workload does not drive read 0 and are listed in the trace file.
        metrics = {n: {"value": float(ctx.layer[n]) if n in measured else 0.0, "unit": u} for n, u in units.items()}
        ctx.tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {
                "host": host,
                "layer": ctx.layer,
                "not_measured": sorted(set(units) - set(measured)),
                "item_latency_s": items.latency,
            },
        )
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({"host": host}))
    correct = not ctx.errors and failed == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics},
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
