"""Seeded benchmark of potoos_spark's public API.

    python3 perfbench/run.py --workload monitor_poll --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up (see manifest.json), runs ops in a closed loop for at
least ``--seconds`` and the workload's ``min_calls``, and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the traced loop and reports the per-layer metrics.
Exits non-zero without a result when the checkout holds no
``potoos_spark`` package.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
SCRATCH = os.path.join(RUN_DIR, "scratch")  # emptied at the start of each run

END_TO_END_UNITS = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "recall": "ratio",
    "setup_s": "s",
}
COMMON_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jvm_gc_ms": "ms",
    "session.get_session_ms": "ms",
    "trace.overhead_ms": "ms",
}
# Reported as latency_tail_ms. The rule "highest percentile with at least
# ten samples beyond it" needs 40 samples for p75; runs here hold 2 to 8.
TAIL_PERCENTILE = 75
EXECUTOR_METRICS = (
    "spark.executor_cpu_ms",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.jvm_gc_ms",
)


def layer_unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_yield"):
        return "ratio"
    return "count"


def per_layer_units(workloads) -> dict:
    """Every per-layer metric with its unit, in report order. Each traced
    run reports all of them; a layer the workload never calls reads 0."""
    units = dict(COMMON_LAYER_UNITS)
    for w in workloads.values():
        for metric, _, _ in w.layer_metrics:
            units[metric] = layer_unit(metric)
    return units


def load_manifest() -> dict:
    with open(os.path.join(HERE, "manifest.json")) as f:
        return json.load(f)


def quantile(values, q: float) -> float:
    """Linear interpolation between closest ranks (q in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading taken
    before and after each run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def pin_environment(env: dict, trace: bool) -> None:
    """Set everything the Spark launcher reads, before pyspark starts the
    JVM. All scratch space lives under RUN_DIR inside the checkout."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    tmp = os.path.join(SCRATCH, "tmp")
    for d in (tmp, os.path.join(ROOT, env["SPARK_LOCAL_DIRS"]),
              os.path.join(ROOT, env["SPARK_CONF_DIR"])):
        os.makedirs(d, exist_ok=True)
    defaults = dict(env["spark_defaults"])
    if trace:
        defaults.update(env["trace_spark_defaults"])
        os.makedirs(os.path.join(ROOT, defaults["spark.eventLog.dir"]), exist_ok=True)
    conf_dir = os.path.join(ROOT, env["SPARK_CONF_DIR"])
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in defaults.items():
            if k.endswith(".dir"):
                v = "file://" + os.path.join(ROOT, v)
            f.write(f"{k} {v}\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
            "SPARK_LOCAL_DIRS": os.path.join(ROOT, env["SPARK_LOCAL_DIRS"]),
            "SPARK_CONF_DIR": conf_dir,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # -XX:-UsePerfData: no JVM counter files under the host's /tmp
            "SPARK_SUBMIT_OPTS": (
                os.environ.get("SPARK_SUBMIT_OPTS", "")
                + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ).strip(),
            "SPARK_LAUNCHER_OPTS": (
                os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
            ).strip(),
        }
    )
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that pyspark launched, and wait
    for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    from py4j.protocol import Py4JError

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        traceback.print_exc(file=sys.stderr)
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


class Tally:
    """Op outcomes of the timed phase: failures count against attempts."""

    def __init__(self):
        self.results = []
        self.attempted = 0
        self.failed = 0

    def run(self, fn, expected_ops: int):
        self.attempted += expected_ops
        try:
            r = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += expected_ops
            return None
        self.attempted += len(r.latencies_ms) - expected_ops
        if not r.ok:
            self.failed += len(r.latencies_ms)
        self.results.append(r)
        return r

    def ok_results(self):
        return [r for r in self.results if r.ok]


def end_to_end(tally: Tally, setup_times: list) -> tuple:
    ok = tally.ok_results()
    lat = [x for r in ok for x in r.latencies_ms]
    wall = sum(r.wall_s for r in ok)
    planted = sum(r.planted for r in tally.results)
    metrics = {
        "latency_p50_ms": quantile(lat, 50),
        "latency_tail_ms": quantile(lat, TAIL_PERCENTILE),
        "throughput_per_s": sum(r.items for r in ok) / wall if wall else 0.0,
        "recall": sum(r.recovered for r in tally.results) / planted if planted else 0.0,
        "setup_s": quantile(setup_times, 50),
    }
    tail_cut = metrics["latency_tail_ms"]
    info = {
        "samples": len(lat),
        "samples_beyond_tail": sum(x > tail_cut for x in lat),
        "latencies_ms": [round(x, 1) for x in lat],
    }
    return metrics, info


def layer_metrics(w, tr, by_kind: dict, session_ms: list, units: dict, log_dir: str):
    """Medians over ops of every per-layer metric; 0 for layers this
    workload never calls."""
    from layertrace import event_log_metrics, median

    out = {m: 0.0 for m in units}
    for metric, span, key in w.layer_metrics:
        vals = tr.per_op(span, key)
        flat = [x for v in vals for x in (v if isinstance(v, list) else [v])]
        out[metric] = median(flat)
    op_spans = [r for r in tr.spans if r["name"] == w.op_span]

    def ops_in(rec):
        return rec["counts"].get("streaming.batches", 1) if w.per_batch else 1

    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed"):
        out[key] = median(r[key] / ops_in(r) for r in op_spans)
    ev = event_log_metrics(log_dir)
    for key in EXECUTOR_METRICS:
        out[key] = median(
            ev.get(r.get("stream_group", r["group"]), {}).get(key, 0.0) / ops_in(r)
            for r in op_spans
        )
    out["session.get_session_ms"] = median(session_ms)
    traced = [x for r in by_kind["traced"] for x in r.latencies_ms]
    untraced = [x for r in by_kind["untraced"] for x in r.latencies_ms]
    out["trace.overhead_ms"] = median(traced) - median(untraced)
    return out


def set_up(w, seed: int, reps: int, warmup_ops: int, diag: dict):
    """``reps`` set-ups, each ending with ``warmup_ops`` warm-up ops; the
    first is timed from process start. Returns the live session, the
    set-up times in s, the get_session times in ms and whether every
    warm-up op passed its check."""
    from potoos_spark import get_session

    spark, setup_times, session_ms, ok = None, [], [], True
    for rep in range(reps):
        t0 = T_PROCESS if rep == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        ts = time.perf_counter()
        spark = get_session("perfbench")
        session_ms.append((time.perf_counter() - ts) * 1000.0)
        diag["content_hash"] = w.generate(seed)
        w.materialize(spark)
        for _ in range(warmup_ops):
            ok &= w.op().ok
        setup_times.append(time.perf_counter() - t0)
    return spark, setup_times, session_ms, ok


def timed_loop(w, seconds: float, min_calls: int, tr) -> tuple:
    """Closed loop, one client: start the next op when the previous one
    ends, until ``seconds`` have passed and ``min_calls`` ops have run.
    With a tracer, ops alternate untraced and traced."""
    tally = Tally()
    by_kind = {"traced": [], "untraced": []}
    expected_ops = w.ops_per_call()
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < seconds or i < min_calls:
        if tr is None:
            tally.run(w.op, expected_ops)
        else:
            kind = "traced" if i % 2 else "untraced"
            with tr.span(f"op.{kind}", i):
                fn = (lambda: w.traced_op(tr, i)) if i % 2 else w.op
                r = tally.run(fn, expected_ops)
            if r is not None:
                by_kind[kind].append(r)
        i += 1
    return tally, by_kind, time.perf_counter() - t_loop


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "potoos_spark", "__init__.py")):
        print(f"perfbench: no potoos_spark package under {ROOT}", file=sys.stderr)
        return 2
    manifest = load_manifest()
    if args.workload not in manifest["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = manifest["workloads"][args.workload]
    env = manifest["environment"]
    diag = {"seed": args.seed, "load_before": os.getloadavg(), "cpu_probe_before_s": cpu_probe()}

    pin_environment(env, bool(args.trace))
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload](spec["sizes"], SCRATCH)
    out_base = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}")
    spark = None
    try:
        spark, setup_times, session_ms, correct = set_up(
            w, args.seed, manifest["setup_reps"], spec["warmup_ops"], diag
        )
        tr = None
        if args.trace:
            from layertrace import Tracer

            tr = Tracer(spark)
        tally, by_kind, diag["timed_s"] = timed_loop(w, args.seconds, spec["min_calls"], tr)
        if tr:
            tr.dump(out_base + "-spans.json")
    finally:
        if spark is not None:
            stop_spark(spark)

    correct &= tally.failed == 0 and bool(tally.ok_results())
    e2e, info = end_to_end(tally, setup_times)
    diag.update(info, tail_percentile=TAIL_PERCENTILE, setup_reps_s=setup_times,
                get_session_ms=session_ms)
    if tr:
        units = per_layer_units(WORKLOADS)
        log_dir = os.path.join(ROOT, env["trace_spark_defaults"]["spark.eventLog.dir"])
        metrics = layer_metrics(w, tr, by_kind, session_ms, units, log_dir)
        report = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
    else:
        report = {
            k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END_UNITS.items()
        }
    diag.update(load_after=os.getloadavg(), cpu_probe_after_s=cpu_probe())
    result = {
        "correct": bool(correct),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": report,
    }
    with open(f"{out_base}-trace{args.trace}.json", "w") as f:
        json.dump({"diagnostics": diag, "result": result}, f, indent=1)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
