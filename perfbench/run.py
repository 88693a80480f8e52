"""Lifecycle benchmark for ``samsa_spark``: one command, three workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 20 --trace 0

The command generates its inputs from ``--seed``, starts a Spark session on
``local[nproc]`` with ``nproc`` shuffle partitions, runs one workload (see
``workloads.py``), checks every answer, and prints two JSON lines: a
detail record (host, inputs, the workload's own metrics with percentiles
and sample counts, failures) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the run also writes its spans to ``perfbench/results/``. Everything the run
writes stays inside the checkout; its scratch root is removed at the end.

A call into the program that raises stops the run. It counts as a failed
operation, and the run prints the result line with ``correct: false`` and no
metric values, and exits 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = HERE / "results"
DRIVER_MEM = "4g"  # well under a 15 GiB host; get_spark would take 16g
# The calls a span is timed around, each in one layer ("<layer>.<call>").
CALLS = (
    "session.get_spark",
    "state_stream.run_available_now",
    "state_stream.restart",
    "state_stream.replay_changelog",
    "state_stream.read_state",
    "api.get",
    "pipeline_ops.prep_pipeline",
    "pipeline_ops.write_shards",
    "pipeline_ops.read_shards_shuffled",
    "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs",
    "dedup.prefix_jaccard_pairs",
)
STAGE_FIELDS = ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "jobs")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_ingest", "state_serve", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(tracer, tmp: Path, nproc: int):
    from samsa_spark import get_spark

    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'tmp'}",
    }
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap(hostinfo, timeout_s: float = 30.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    while (left := hostinfo.descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in hostinfo.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def layer_metrics(names: list[str], res, tracer) -> dict:
    """Every per-layer metric of BENCHMARK.json. A layer this workload does
    not call did no work, and reads 0."""
    out = {n: 0.0 for n in names}
    out.update(res.layers)
    out["session.get_spark_s"] = tracer.named("session.get_spark")[0].seconds
    for call in CALLS:
        spans = tracer.named(call)
        if not spans:
            continue
        per = [tracer.stage_metrics(sp) for sp in spans]
        for f in STAGE_FIELDS:
            out[f"{call}.{f}"] = sum(p[f] for p in per) / len(per)
    out["api.get_jobs_per_lookup"] = out["api.get.jobs"]
    out["api.get_cpu_ms_per_lookup"] = out["api.get.cpu_s"] * 1e3
    missing = set(out) - set(names)
    if missing:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(missing)}")
    return out


def self_times(tracer) -> dict:
    """Total self time per span name."""
    out: dict[str, float] = {}
    for sp in tracer.spans:
        out[sp.name] = out.get(sp.name, 0.0) + tracer.self_seconds(sp)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    try:
        import samsa_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable: {e}", file=sys.stderr)
        return 2
    import hostinfo
    from checks import Ledger
    from tracing import Tracer
    from workloads import PARAMS, WORKLOADS, Ctx

    nproc = len(os.sched_getaffinity(0))
    host_before = hostinfo.host_record()
    steal_before = hostinfo.cpu_jiffies()
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    (tmp / "tmp").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp / "tmp"),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    tempfile.tempdir = None
    tracer = Tracer(args.trace == 1)
    led = Ledger()
    spark = error = None
    try:
        with hostinfo.RssSampler() as rss:
            try:
                spark = start_session(tracer, tmp, nproc)
                ctx = Ctx(spark, tracer, tmp, args.seed, args.seconds, led)
                res = WORKLOADS[args.workload](ctx)
                layers = layer_metrics([m["name"] for m in spec["per_layer"]], res, tracer)
            except Exception as e:
                error = e
                if led.raised is not e:  # raised outside a call the ledger wraps
                    led.record(args.workload, False, f"{type(e).__name__}: {e}")
                traceback.print_exc()
            finally:
                if spark is not None:
                    stop_session(spark)
                reap(hostinfo)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    group = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    if error is not None:
        # The run stopped at a failed operation, so nothing was measured.
        print(json.dumps({"workload": args.workload, "seed": args.seed, "failures": led.failures}))
        print(
            json.dumps(
                {
                    "correct": False,
                    "attempted": led.attempted,
                    "failed": led.failed,
                    "metrics": {m["name"]: {"value": None, "unit": units[m["name"]]} for m in group},
                }
            )
        )
        return 1

    steal, total = (b - a for a, b in zip(steal_before, hostinfo.cpu_jiffies()))
    e2e = {"setup_s": res.setup_end - T_START, "peak_rss_mb": rss.peak_mb, **res.end_to_end}
    named = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "failed_ratio": {"value": led.failed / led.attempted, "unit": "fraction"},
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB"},
    }
    for name, (value, unit) in res.named.items():
        # A tail comes with its percentile and sample count.
        named[name] = {**value, "unit": unit} if isinstance(value, dict) else {"value": value, "unit": unit}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "driver_memory": DRIVER_MEM,
        "host": {
            "before": host_before,
            "after": hostinfo.host_record(),
            "cpu_steal_share": steal / total if total else 0.0,
        },
        "params": PARAMS[args.workload],
        "inputs": ctx.inputs,
        "metrics": named,
        "end_to_end": e2e,
        "attempted": led.attempted,
        "failures": led.failures,
        **res.detail,
    }
    RESULTS.mkdir(exist_ok=True)
    stem = f"{args.workload}-s{args.seed}"
    if args.trace:
        detail["layers"] = layers
        detail["self_s"] = self_times(tracer)
        detail["tracing_calls_s"] = tracer.overhead_s
        untraced = RESULTS / f"{stem}-t0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            detail["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        else:
            detail["tracing_overhead"] = f"no untraced run of {stem} in {RESULTS.name}/ to compare"
        tracer.dump(RESULTS / f"{stem}-spans.json", {"workload": args.workload, "seed": args.seed})
    (RESULTS / f"{stem}-t{args.trace}.json").write_text(json.dumps(detail, indent=1))

    shown = e2e if args.trace == 0 else layers
    result = {
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {m["name"]: {"value": shown[m["name"]], "unit": units[m["name"]]} for m in group},
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
