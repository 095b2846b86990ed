"""Dedup benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload planted_batch --seed 1 \
        --seconds 8 --trace 0

Single-client closed loop on local[nproc]: after set-up, ops run back to
back for `--seconds` (the op that crosses the limit finishes), each
checked before the next starts.  `--trace 0` prints the end-to-end
metrics; `--trace 1` alternates untraced and traced ops and prints the
per-layer metrics.  The last stdout line is the JSON result; samples,
quartiles, environment and (traced) span records go to
`.perfbench/out/` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "files_per_s": "1/s",
    "dup_pair_recall": "ratio",
    "pair_precision": "ratio",
    "peak_rss_mb": "MB",
}
LAYERS = ["driver", "signatures", "lsh", "substr", "pipeline", "verify",
          "cluster", "incremental", "io"]
COUNTS = {
    "signatures.docs": "count", "signatures.mb_per_s": "MB/s",
    "lsh.bucket_rows": "count", "lsh.pairs_emitted": "count",
    "lsh.buckets_dropped": "count", "lsh.docs_in_dropped": "count",
    "substr.fp_rows": "count", "substr.pairs_emitted": "count",
    "pipeline.candidate_pairs": "count", "pipeline.unique_ratio": "ratio",
    "verify.pairs_in": "count", "verify.dup_pairs": "count", "verify.yield": "ratio",
    "cluster.edges": "count", "cluster.clusters": "count", "cluster.max_size": "count",
    "incremental.delta_docs": "count", "incremental.delta_pairs": "count",
    "incremental.dup_of_old": "count",
    "fold_wall_s": "s", "screen_wall_s": "s",
    "io.write_s": "s", "io.read_s": "s", "io.bytes_written": "B", "io.writes": "count",
    "tracing_overhead_s": "s",
}


# named spans whose summed wall is reported as `<name>_s`
SPLIT_SPANS = ("io.write", "io.read")


def per_layer_units() -> dict[str, str]:
    units = {}
    for lay in LAYERS:
        units.update({f"{lay}.s": "s", f"{lay}.self_s": "s", f"{lay}.cpu_util": "ratio"})
    units.update(COUNTS)
    return units


def pin_environment(run_dir: str, nproc: int) -> dict:
    """Everything the program writes goes under the checkout, and the
    JVM heap stays well below physical RAM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # inputs are tens of MB; a small heap keeps the pre-touched JVM light
    mem_gb = 1
    tempfile.tempdir = tmp
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        WELLDEDUP_DRIVER_MEM=f"{mem_gb}g",
        PYSPARK_PYTHON=sys.executable,
    )
    return dict(
        nproc=nproc,
        loadavg=os.getloadavg(),
        driver_mem=f"{mem_gb}g",
        phys_gb=round(phys_gb, 1),
        spark_local_dirs=local,
        python=platform.python_version(),
    )


def start_spark(nproc: int, tmp: str):
    from welldedup.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: no resizing pauses, which made op walls
            # vary by a third between runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -Xms{os.environ['WELLDEDUP_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one."""
    from pyspark import SparkContext

    from spans import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():  # still alive after a minute
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program must be in the checkout: fail before any output
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark
        import welldedup  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    import gen
    from spans import Meter, RssSampler, Tracer, layer_metrics, summary

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    phases = {}
    t = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    phases["generate_s"] = time.perf_counter() - t
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, "run", f"{tag}-{os.getpid()}")
    nproc = len(os.sched_getaffinity(0))
    env = pin_environment(run_dir, nproc)
    env["pyspark"] = pyspark.__version__

    import workloads

    setup = Meter()
    with setup:
        spark = start_spark(nproc, os.environ["TMPDIR"])
    try:
        wl = workloads.WORKLOAD_CLASSES[args.workload](
            spark, inputs, os.path.join(run_dir, "data")
        )
        with setup:
            wl.setup()
        # the warm-up op is checked like any op: its labels are the
        # reference, so a quality miss there fails the run
        t = time.perf_counter()
        quality = wl.check_reference()
        phases["reference_check_s"] = time.perf_counter() - t
        failed = int(quality["recall"] < workloads.MIN_RECALL or quality["hard_fp"] > 0)
        if failed:
            print(f"perfbench: warm-up op failed its check: {quality}", file=sys.stderr)

        walls, shares, traced, peaks, splits, layer_runs = [], [], [], [], [], []
        tracer = Tracer(run_id=tag)
        t_loop = time.perf_counter()
        i = 0
        # past the time limit, go on (up to 6 ops) until the run has its
        # timed ops: TIMED_OPS untraced, or one untraced and one traced
        min_walls = 1 if args.trace else wl.TIMED_OPS
        while time.perf_counter() - t_loop < args.seconds or (
            i < 6 and (len(walls) < min_walls or (args.trace and not traced))
        ):
            trace_this = bool(args.trace) and i % 2 == 1
            i += 1
            try:
                if trace_this:
                    counts = {}
                    n0 = len(tracer.spans)
                    traced.append(wl.traced_op(tracer, counts))
                    spans = tracer.spans[n0:]
                    counts.update(layer_metrics(spans, LAYERS, nproc))
                    for name in SPLIT_SPANS:
                        counts[f"{name}_s"] = sum(
                            s["end"] - s["start"] for s in spans if s["name"] == name
                        )
                    layer_runs.append(counts)
                else:
                    with Meter() as m, RssSampler() as rss:
                        walls.append(wl.op())
                    shares.append(m.share)
                    peaks.append(rss.peak_mb)
                    splits.append(getattr(wl, "last_split", None))
            except workloads.CheckFailed as e:
                failed += 1
                print(f"perfbench: op {i} failed its check: {e}", file=sys.stderr)
            except Exception:  # an op that raises counts as failed
                failed += 1
                print(f"perfbench: op {i} raised:", file=sys.stderr)
                traceback.print_exc()
        phases["ops_s"] = time.perf_counter() - t_loop
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t

    attempted = i + 1  # the warm-up op counts
    docs = wl.docs_per_op()
    # walls without the hypervisor's steal (see spans.Meter); raw walls
    # and shares stay in the detail file
    setup_s = setup.wall * setup.share
    run_walls = [w * f for w, f in zip(walls, shares)]
    detail = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        env=env, phases=phases, quality=quality,
        setup_s=setup_s, setup_raw=dict(wall=setup.wall, cpu=setup.cpu, steal=setup.steal),
        op_wall_s=dict(samples=run_walls, **summary(run_walls)) if walls else None,
        op_raw_wall_s=walls, op_share=shares,
        files_per_s=summary([docs / w for w in run_walls]) if walls else None,
        peak_rss_mb=dict(samples=peaks, **summary(peaks)) if peaks else None,
        fold_screen_split_s=[s for s in splits if s],
        attempted=attempted, failed=failed,
        op_fail_ratio=failed / max(attempted, 1),
    )
    if args.trace:
        units = per_layer_units()
        vals = {}
        for name in units:
            xs = [c.get(name, 0.0) for c in layer_runs]
            vals[name] = summary(xs)["median"] if xs else 0.0
        vals["tracing_overhead_s"] = (
            summary(traced)["median"] - summary(walls)["median"] if traced and walls else 0.0
        )
        # day2_fold's fold and screen walls, from its untraced ops
        done = [s for s in splits if s]
        for k, name in enumerate(("fold_wall_s", "screen_wall_s")):
            vals[name] = summary([s[k] for s in done])["median"] if done else 0.0
        metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
        detail["traced_wall_s"] = traced
        detail["per_layer"] = vals
    else:
        values = dict(
            setup_s=setup_s,
            files_per_s=detail["files_per_s"]["median"] if walls else 0.0,
            dup_pair_recall=quality["recall"],
            pair_precision=quality["precision"],
            peak_rss_mb=detail["peak_rss_mb"]["median"] if peaks else 0.0,
        )
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps(dict(
        correct=failed == 0, attempted=attempted, failed=failed, metrics=metrics,
    )))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
