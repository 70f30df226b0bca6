#!/usr/bin/env python3
"""KG-construction benchmark for ``ner_app_spark``.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives one local Spark
session (``local[nproc]``) in a closed loop with one client:

  1. set-up: start the session, build the workload's inputs from the
     seed, run one operation on a small warm-up input (``setup_s``);
  2. measure: run operations until ``--seconds`` have passed;
  3. check: correctness gates on the outputs, outside the timed region.

With ``--trace 0`` the last stdout line holds the end-to-end metrics.
With ``--trace 1`` an untraced window runs first (the overhead base),
then a traced window whose spans give the per-layer metrics; the spans
are written to ``.perfbench_out/`` at exit. The line before the last is
a human-readable detail record (inputs, gates, per-workload names).

Every file the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

#: workload-specific names of the generic end-to-end metrics, for the detail line
NAMED = {
    "batch_build": {"build_docs_per_s": "throughput_per_s"},
    "incremental_ingest": {},
    "catalog_linking": {"link_mentions_per_s": "throughput_per_s"},
}

DRIVER_MEM = "1g"


def metric_units(root: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json:
    every workload reports all of them, and a layer a workload does not
    touch reads 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer")
    )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NAMED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_settings(root: str, work: str) -> dict:
    """Session settings, through the package's environment variables,
    plus the paths that keep every file the run writes inside ``work``.
    Set before the JVM starts: it and its Python workers inherit them."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package (and this benchmark's
        # generators) from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(settings)
    return settings


def start_session(work: str):
    import ner_app_spark.session as session

    tmp = os.path.join(work, "tmp")
    # scratch spills (run_incremental) default to /dev/shm: keep them here
    session.scratch_base = lambda: tmp
    spark = session.get_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context (which ends the Python workers), then the JVM,
    and wait for every process the session started."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to exit: kill it
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run_window(wl, seconds: float, first: int, traced: bool):
    """Closed loop: operations back to back until ``seconds`` have
    passed (at least one). Returns (results, failed operations)."""
    results, failed = [], 0
    end = time.perf_counter() + seconds
    k = first
    while k == first or time.perf_counter() < end:
        wl.tr.op = f"op{k}"
        try:
            res = wl.op(k)
            if traced:
                wl.probe(res)
            results.append(res)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
        k += 1
    return results, failed


def e2e_metrics(results, setup_s: float, peak_bytes: int) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(r.latency for r in results),
        "throughput_per_s": sum(r.units for r in results)
        / sum(r.seconds for r in results),
        "output_bytes_per_input_byte": sum(r.out_bytes for r in results)
        / sum(r.in_bytes for r in results),
        "peak_rss_gb": peak_bytes / 2**30,
    }


def layer_metrics(names, traced, base, tracer) -> dict:
    n = len(traced)
    out = {name: sum(r.layers.get(name, 0) for r in traced) / n for name in names}
    for layer, secs in tracer.self_seconds().items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = secs / n
    op_ids = {s.id for s in tracer.spans if s.layer == "op"}
    out["trace.spans"] = len(tracer.spans) / n
    out["trace.probe_s"] = (
        sum(s.dur for s in tracer.spans if s.parent is None and s.id not in op_ids)
        / n
    )
    out["trace.overhead_ratio"] = (
        statistics.median(r.seconds for r in traced)
        / statistics.mean(r.seconds for r in base)
        - 1
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ner_app_spark", "__init__.py")):
        print(
            f"perfbench: no ner_app_spark package under {root}; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    e2e_units, layer_units = metric_units(root)
    sys.path.insert(0, root)
    work = os.path.join(
        root, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}"
    )
    settings = pin_settings(root, work)

    from perfbench.probes import PeakMemory
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spark = None
    try:
        with PeakMemory() as mem:
            spark = start_session(work)
            phases = {"session_s": time.perf_counter() - T_START}
            tracer = Tracer(spark, enabled=False)
            wl = WORKLOADS[args.workload](
                spark, tracer, work, args.seed, int(settings["SPARK_GRAFT_CPUS"])
            )
            t = time.perf_counter()
            wl.prepare()
            phases["prepare_s"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.warm_up()
            phases["warm_up_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - T_START
            results, failed = run_window(wl, args.seconds, 0, traced=False)
            peak = mem.peak
            base, traced = [], []
            if args.trace:
                # the tracing overhead base: one untraced op on each side
                # of the traced window, so JIT warm-up biases neither way
                k = len(results) + failed
                base, b_failed = run_window(wl, 0, k, traced=False)
                tracer.enabled = True
                traced, t_failed = run_window(wl, args.seconds, k + 1, traced=True)
                tracer.enabled = False
                k += 1 + len(traced) + t_failed
                after, a_failed = run_window(wl, 0, k, traced=False)
                base += after
                failed += b_failed + t_failed + a_failed
            t = time.perf_counter()
            gates = _run_gates(wl) if results else {}
            phases["gates_s"] = time.perf_counter() - t
        if not results or (args.trace and not (len(base) == 2 and traced)):
            print("perfbench: every measured operation failed", file=sys.stderr)
            return 1
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            )
        e2e = e2e_metrics(results, setup_s, peak)
        attempted = len(results) + len(base) + len(traced) + failed + len(gates)
        failed += sum(not ok for ok in gates.values())
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "ops": len(results),
            "op_latencies_s": [r.latency for r in results],
            "inputs": wl.inputs(),
            "gates": gates,
            "failed_ops_ratio": failed / attempted,
            **{k: e2e[v] for k, v in NAMED[args.workload].items()},
            **wl.named(results),
            "setup_s": setup_s,
            "phases": phases,
            "peak_rss_gb": e2e["peak_rss_gb"],
            "settings": {
                k: v for k, v in settings.items() if k.startswith("SPARK_GRAFT_")
            },
        }
        if args.trace:
            units = layer_units
            metrics = layer_metrics(units, traced, base, tracer)
        else:
            metrics, units = e2e, e2e_units
        print(json.dumps({"detail": detail}), flush=True)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        k: {"value": metrics[k], "unit": units[k]} for k in units
                    },
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _run_gates(wl) -> dict[str, bool]:
    """Correctness gates; a gate that raises counts as failed."""
    try:
        return wl.gates()
    except Exception:  # noqa: BLE001 - a crashed gate is a failed gate
        traceback.print_exc()
        return {"gates_ran": False}


if __name__ == "__main__":
    sys.exit(main())
