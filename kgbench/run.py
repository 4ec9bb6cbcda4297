"""Benchmark of the ontology-checked KG engine on one local[4] session.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The seed picks the fixture page range; the
run sets up (session start, input generation, warm-up), then repeats the
workload's unit until ``--seconds`` have passed (at least once), checks every
unit's output, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones (see ``kgbench/trace.py``).  A self-describing report with every raw
sample goes to ``.kgbench/reports/``.

Exit codes: 0 done (``correct`` says whether the outputs were right);
2 the program or its inputs are missing; 3 the run failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

EXIT_MISSING = 2
EXIT_FAILED = 3

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "ontologybasedkgcreation_spark")
ONTOLOGY_PATH = os.path.join(HERE, "data", "fixture_ontology.ttl")
ABBREV_PATH = os.path.join(HERE, "data", "abbreviations.txt")
STATE_DIR = os.path.join(ROOT, ".kgbench")

MASTER = "local[4]"
# deployment choices for a 4-core, 15 GB box: a heap that leaves room for
# the Python workers (the workloads fill it, so peak memory is steady across
# runs; a 3g heap grew to a different size in every run), and two shuffle
# partitions per core (the package default of 32 is sized for 32 cores)
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = 8
JVM_OPTS = "-XX:-UsePerfData"  # the JVM would otherwise write /tmp/hsperfdata_*

END_TO_END = {
    "setup_s": "s",
    "unit_s": "s",
    "pages_per_s": "1/s",
    "cpu_ms_per_page": "ms",
    "peak_pss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def preflight() -> list:
    """Names of everything the run needs that is absent."""
    missing = [p for p in (PKG_DIR, ONTOLOGY_PATH, ABBREV_PATH) if not os.path.exists(p)]
    for mod in ("pyspark", "pyarrow", "pandas"):
        try:
            __import__(mod)
        except ImportError:
            missing.append(f"python module {mod}")
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        missing.append("java")
    return missing


def isolate_environment(run_dir: str) -> None:
    """Everything the session writes stays in the run directory; the
    package's own defaults apply (no SPARK_GRAFT_* overrides)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the launcher JVM of spark-submit: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_OPTS} -Djava.io.tmpdir={tmp}"
    # Python workers run this interpreter, whatever python3 is first on PATH
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # bind to the loopback interface, not whatever the hostname resolves to
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the linking dictionary is the benchmark's own file, never a host path
    os.environ["ONTOKG_ABBREV_PATH"] = ABBREV_PATH
    import tempfile

    tempfile.tempdir = None


def start_session(run_dir: str, trace: bool):
    from ontologybasedkgcreation_spark.session import get_spark

    events = os.path.join(run_dir, "events")
    os.makedirs(events, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": events,
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("kgbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, events


def stop_session(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    from kgbench.proc import tree_pids

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as exc:  # noqa: BLE001 - teardown must go on
            log(f"gateway shutdown: {exc!r}")
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    me = os.getpid()
    while True:
        others = [p for p in tree_pids() if p != me]
        if not others:
            return
        if time.time() > deadline:
            for pid in others:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def host_calibration_s() -> float:
    """Seconds to hash 64 MB in this process: a fixed amount of work whose
    time, recorded before set-up and after the units, shows how fast the
    host ran (reported only; no metric is normalized by it)."""
    buf = bytes(64 * 2**20)
    t0 = time.perf_counter()
    hashlib.sha256(buf).hexdigest()
    return time.perf_counter() - t0


def file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def run(args) -> tuple:
    """Runs one benchmark invocation; returns (result line, report)."""
    from kgbench import proc, stats
    from kgbench.trace import (COMPOSITION, Tracer, metric_unit,
                               per_layer_metric_names, read_event_logs)
    from kgbench.workloads import WORKLOADS, CheckFailed

    run_dir = os.path.join(STATE_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_environment(run_dir)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "master": MASTER,
        "driver_memory": DRIVER_MEMORY, "shuffle_partitions": SHUFFLE_PARTITIONS,
        "python": platform.python_version(),
        "note": "BENCH_r01-r07 were taken at 32 CPUs; numbers from this "
                "4-core benchmark are a new series and not comparable.",
    }
    spark = None
    correct, attempted, failed = True, 0, 0
    samples = []
    try:
        report["host_calibration_s"] = [host_calibration_s()]
        with proc.PssSampler() as mem:
            t_setup = time.perf_counter()
            import pyspark

            from ontologybasedkgcreation_spark.ontology import parse_owl_text
            from ontologybasedkgcreation_spark.operators.linking import default_abbreviations

            with open(ONTOLOGY_PATH, encoding="utf-8") as fh:
                onto = parse_owl_text(fh.read())
            wl = WORKLOADS[args.workload](onto, args.seed, os.path.join(run_dir, "work"))
            os.makedirs(wl.work_dir)
            # inputs are generated while the JVM starts
            with ThreadPoolExecutor(max_workers=1) as pool:
                t_gen = time.perf_counter()
                generated = pool.submit(wl.generate)
                spark, events_dir = start_session(run_dir, bool(args.trace))
                generated.result()
                report["session_start_and_inputs_s"] = time.perf_counter() - t_gen
            wl.load(spark)
            report.update({
                "spark_version": spark.version, "pyspark_version": pyspark.__version__,
                "ontology": {"path": os.path.relpath(ONTOLOGY_PATH, ROOT),
                             "sha256": file_digest(ONTOLOGY_PATH),
                             "classes": len(onto.classes),
                             "object_property_rows": len(onto.object_props),
                             "datatype_property_rows": len(onto.datatype_props),
                             "kind": "fixture ontology, not NyOn"},
                "dictionary": {"path": os.path.relpath(ABBREV_PATH, ROOT),
                               "entries": len(default_abbreviations())},
                "inputs": wl.input_sizes(),
            })
            tracer = Tracer(spark) if args.trace else None
            report["warmup"] = wl.warm_up()
            setup_s = time.perf_counter() - t_setup

            t_measure = time.perf_counter()
            while not samples or time.perf_counter() - t_measure < args.seconds:
                attempted += 1
                try:
                    samples.append(wl.unit())
                except CheckFailed as exc:
                    log(f"check failed: {exc}")
                    correct, failed = False, failed + 1
                    break

            if tracer is not None and correct:
                # one traced unit, whose output the unit's own checks compare
                # with the untraced units', then the workload's traced-only work
                tracer.install()
                try:
                    wl.unit()
                    unit_spans = list(tracer.spans)
                    wl.checks["traced_output_equals_untraced"] = True
                    report["traced_extra"] = wl.traced_extra()
                except CheckFailed as exc:
                    log(f"traced run: check failed: {exc}")
                    correct = False
                finally:
                    tracer.uninstall()
            report["checks"] = wl.checks
            report["host_calibration_s"].append(host_calibration_s())
            stop_session(spark)
            spark = None
        report["samples"] = samples
        if samples and "query_s" in samples[0]:
            lat_ms = [1000 * q for s in samples for q in s["query_s"]]
            queries = {"samples": len(lat_ms), "p50_ms": statistics.median(lat_ms)}
            if len(lat_ms) > stats.TAIL_BEYOND:
                pct, value = stats.tail_percentile(lat_ms)
                queries["tail"] = {"percentile": pct, "ms": value}
            else:
                queries["tail"] = (f"needs more than {stats.TAIL_BEYOND} samples; "
                                   f"max {max(lat_ms):.1f} ms")
            report["queries"] = queries
            for stage in ("ingest_s", "reconcile_s"):
                report[stage] = statistics.median([s[stage] for s in samples])
        report["peak_pss_mb"] = mem.peak / 2**20

        if tracer is not None and correct:
            events = read_event_logs(events_dir)
            layer = tracer.layer_metrics(events)
            layer[COMPOSITION] = statistics.median([s["unit_s"] for s in samples]) - sum(
                s.self_s for s in unit_spans)
            report["trace_spans"] = tracer.span_records()
            metrics = {name: {"value": layer[name], "unit": metric_unit(name)}
                       for name in per_layer_metric_names()}
        elif tracer is None and correct:
            pages = wl.pages_per_unit()
            page_stage = [s.get("ingest_s", s["unit_s"]) for s in samples]
            metrics = {
                "setup_s": setup_s,
                "unit_s": statistics.median([s["unit_s"] for s in samples]),
                "pages_per_s": pages / statistics.median(page_stage),
                "cpu_ms_per_page": 1000.0 * statistics.median(
                    [s["page_cpu_s"] for s in samples]) / pages,
                "peak_pss_mb": report["peak_pss_mb"],
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        else:
            metrics = {}
        report["setup_s"] = setup_s
        report["metrics"] = metrics
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}, report
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        report_dir = os.path.join(STATE_DIR, "reports")
        os.makedirs(report_dir, exist_ok=True)
        path = os.path.join(report_dir, os.path.basename(run_dir) + ".json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"report: {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = preflight()
    if missing:
        log("missing: " + ", ".join(missing))
        return EXIT_MISSING
    # import the benchmark as a package from the checkout root, so its
    # module names never shadow the standard library's (``trace``)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return EXIT_FAILED
    try:
        result, _report = run(args)
    except Exception:  # noqa: BLE001 - the run's boundary: report, exit non-zero
        log("run failed:\n" + traceback.format_exc())
        return EXIT_FAILED
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
