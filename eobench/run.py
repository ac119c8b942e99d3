"""eoreader_spark benchmark: one workload per run, closed loop, one client.

    python3 eobench/run.py --workload {batch,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Prints the end-to-end metrics by name, with
unit and sample count, then (last line) one JSON object:
{"correct", "attempted", "failed", "metrics"}.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` the per-layer metrics of a traced run,
which runs each operation twice (untraced, then traced) for twice
``--seconds``.
Every operation's output is checked against an oracle outside Spark; a wrong
or failed operation counts in ``failed``.  See eobench/NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import envpin  # noqa: E402
from stats import error_rate, median, quantile, tail_percentile  # noqa: E402
from tracing import NullTracer, Tracer, read_event_log  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
APP = "eobench"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "query"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def run_op(workload, kind: str, run, check) -> tuple[str, float, bool, dict]:
    """Time one operation under the workload's tracer, then check its
    output.  -> (kind, latency, ok, part latencies)."""
    ok, out, parts = True, None, {}
    with workload.tracer.span(f"op.{kind}"):
        t0 = time.perf_counter()
        try:
            out, parts = run()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            ok = False
        latency = time.perf_counter() - t0
    if ok:
        try:
            check(out)
        except Exception:  # noqa: BLE001 - oracle mismatch counts as failure
            traceback.print_exc()
            ok = False
    return kind, latency, ok, parts


def timed_loop(workload, seconds: float) -> list[tuple[str, float, bool, dict]]:
    """Closed loop, one client: the next operation starts when the previous
    one is done and checked; runs until ``seconds`` have passed (at least
    one operation)."""
    results = []
    deadline = time.perf_counter() + seconds
    while True:
        results.append(run_op(workload, *workload.next_op()))
        if time.perf_counter() >= deadline:
            return results


def traced_loop(workload, tracer, seconds: float) -> tuple[list, list]:
    """Like ``timed_loop``, but every operation runs twice on the same
    inputs: untraced, then with spans and the layer wrappers installed.
    -> (untraced results, traced results)."""
    import layers

    plain, traced = [], []
    deadline = time.perf_counter() + seconds
    while True:
        op = workload.next_op()
        workload.tracer = NullTracer()
        plain.append(run_op(workload, *op))
        workload.tracer = tracer
        layers.install(tracer)
        try:
            traced.append(run_op(workload, *op))
        finally:
            tracer.unwrap_all()
        if time.perf_counter() >= deadline:
            return plain, traced


def latency_lines(name: str, lat: list[float]) -> list[str]:
    """Median and the highest percentile with >= 10 samples beyond it."""
    if not lat:
        return [f"{name}_p50_s n/a n=0"]
    lines = [f"{name}_p50_s {median(lat):.4f} s n={len(lat)}"]
    p = tail_percentile(len(lat))
    if p is not None and p > 50:
        lines.append(f"{name}_p{p:g}_s {quantile(lat, p):.4f} s n={len(lat)}")
    return lines


def report(workload: str, results, setup_s: float) -> tuple[list[str], dict]:
    """Human-readable named metrics, and the end-to-end metrics for JSON."""
    ok = [r for r in results if r[2]]
    lat = [r[1] for r in ok]
    lines = [f"setup_s {setup_s:.4f} s n=1"]
    if workload == "batch":
        lines += latency_lines("batch", lat)
        for part in ("pipeline", "resume"):
            xs = [r[3][part] for r in ok]
            lines.append(f"{part}_s {median(xs):.4f} s n={len(xs)}" if xs else f"{part}_s n/a n=0")
    else:
        lines += latency_lines("query", lat)
        if tail_percentile(len(lat)) != 90:
            lines.append(f"query_p90_s n/a n={len(lat)} (needs >= 100 samples)")
        for name, kinds in (
            ("knn", ("knn", "knn_sparse")),
            ("knn_hot", ("knn",)),
            ("knn_sparse", ("knn_sparse",)),
            ("aoi", ("aoi",)),
            ("window", ("window",)),
        ):
            xs = [r[1] for r in ok if r[0] in kinds]
            lines.append(f"{name}_p50_s {median(xs):.4f} s n={len(xs)}" if xs else f"{name}_p50_s n/a n=0")
    lines.append("op_samples " + " ".join(f"{r[0]}:{r[1]:.3f}" for r in results))
    failed = len(results) - len(ok)
    lines.append(f"op_error_rate {error_rate(len(results), failed):.4f} ratio n={len(results)}")
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        # with every operation failed, the failed ones' times (correct is false)
        "op_p50_s": {"value": median(lat or [r[1] for r in results]), "unit": "s"},
    }
    return lines, metrics


def main() -> int:
    args = parse_args()
    if not (REPO / "eoreader_spark" / "__init__.py").is_file():
        print(f"eoreader_spark not found under {REPO}; run from a full checkout", file=sys.stderr)
        return 2
    if not envpin.wait_no_stray_jvms():
        print(f"refusing to start: Spark JVMs alive: {envpin.spark_jvms()}", file=sys.stderr)
        return 3
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    env = envpin.pin(REPO, work)
    sys.path.insert(0, str(REPO))
    try:
        return run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, env: dict[str, str]) -> int:
    import layers
    import micro
    import workloads

    from eoreader_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        (work / "eventlog").mkdir(parents=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(APP, cpus=int(env["SPARK_GRAFT_CPUS"]), extra_conf=extra)
    session_start_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work / "data", args.seed, NullTracer())
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        control_s = micro.host_control()

        if not args.trace:
            results = timed_loop(wl, args.seconds)
            per_layer = None
        else:
            tracer = Tracer(spark.sparkContext)
            plain, results = traced_loop(wl, tracer, 2 * args.seconds)
            decode_ms, kernel_ms = micro.decode_and_kernel_ms(
                workloads.QUERY_IMAGES if args.workload == "query" else workloads.PIPELINE_IMAGES,
                workloads.INDEX_NAMES,
            )
            per_layer = {
                "codecs.decode_ms_per_image": decode_ms,
                "indices.kernel_ms_per_image": kernel_ms,
                "session.start_s": session_start_s,
                "session.peak_rss_mb": envpin.peak_rss_mb(),
                "host.control_s": control_s,
                "trace.overhead_ratio": median(
                    t[1] / p[1] for p, t in zip(plain, results) if p[2] and t[2]
                ),
            }
            results = plain + results
    finally:
        envpin.stop_spark(spark)

    lines, e2e = report(args.workload, results, setup_s)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={env['SPARK_GRAFT_CPUS']} heap={env['SPARK_DRIVER_MEM']}")
    for line in lines:
        print(line)
    print(f"host.control_s {control_s:.4f} s n=1")
    if per_layer is not None:
        log = read_event_log(work / "eventlog")
        ops = [s for s in tracer.spans if s.parent is None and s.name.startswith("op.")]
        per_layer.update(layers.layer_metrics(tracer, log, ops))
        metrics = {
            name: {"value": per_layer[name], "unit": unit}
            for name, (unit, _) in layers.METRICS.items()
        }
    else:
        metrics = e2e
    attempted = len(results)
    failed = sum(1 for r in results if not r[2])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
