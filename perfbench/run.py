"""Extraction-job benchmark: one workload per invocation, from one process.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 5 --trace 0

Closed loop on ``local[<cores>]``: one job call at a time. The first run
is the cold run that ends set-up; it is discarded. Timed runs follow: a
fixed number per workload, and for at least ``--seconds``; the metrics
take their median. Every run reads its input through a fresh hard-linked
path, writes to a fresh directory, starts from an empty Spark cache and is
checked against the golden outputs afterwards, outside the timed window;
``failed_frac`` counts wrong docs over every run, the cold one included.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced runs, then probes each layer once through the noop
sink, and reports the per-layer metrics and the tracing overhead. The
spans go to ``perfbench/.work/traces/``. Each metric is printed as
``name value unit`` and the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _host_conf() -> tuple[str, dict, int]:
    """Environment and session settings, sized to this host: master,
    extra session conf and shuffle partitions."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM that spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # an eighth of the host, 1-4 GB: the session default is 48g. The
    # heap starts at its full size so that peak RSS does not depend on
    # when the collector decided to grow it.
    heap = f"{max(1024, min(4096, total_mb // 8))}m"
    os.environ["SPARK_DRIVER_MEM"] = heap
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    # the repo's own benches and tests size shuffles to the host, not to
    # the session's cluster default of 32
    return f"local[{cores}]", conf, max(cores, 8)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def bench(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, list]:
    import check
    import gen
    import probe
    import workloads as W

    master, conf, partitions = _host_conf()
    prep0 = time.monotonic()
    check.self_test(os.path.join(WORK, "tmp"))
    cache_root = os.path.join(WORK, "corpora")
    # a traced run probes the layers of every workload on its corpus
    corpora = {}
    for name in W.WORKLOADS if trace else [workload]:
        size = W.SIZES[name] if name == workload else min(W.SIZES[name], W.PROBE_SIZE)
        # built in a child process so generation memory stays out of peak RSS
        args = [name, str(seed), str(size), cache_root]
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *args], check=True)
        corpora[name] = W.WORKLOADS[name](*gen.corpus(cache_root, name, seed, size))
    wl = corpora[workload]
    prep_s = time.monotonic() - prep0

    from ocr_translation_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(
        f"perfbench-{workload}", master=master, shuffle_partitions=partitions, extra_conf=conf
    )
    session_s = time.monotonic() - t0
    run_root = os.path.join(WORK, "runs", f"{workload}-s{seed}-{os.getpid()}")
    tracer = probe.Tracer(spark, enabled=trace)
    off = probe.Tracer()
    runs = []  # (traced, wall s, wrong docs) per run
    try:

        def one(i: int, tr) -> float:
            run_dir = os.path.join(run_root, str(i))
            inp = wl.inputs(run_dir)
            out = os.path.join(run_dir, "out")
            W.isolate(spark)
            tr.run_id = f"run{i}"
            t0 = time.monotonic()
            wl.call(spark, inp, out, tr)
            wall = time.monotonic() - t0
            age = probe.process_age_s()
            runs.append((tr.enabled, wall, wl.check(out)))
            shutil.rmtree(run_dir)
            return age

        setup_s = one(0, off) - prep_s
        # peak memory before the timed window, whatever its length
        rss = probe.peak_rss_mb()
        # timed runs: at least the workload's count, and for ``seconds``.
        # Trace mode alternates untraced and traced runs, untraced first
        # and last, so that the runs' JIT drift cancels out of the overhead.
        start = time.monotonic()
        while len(runs) < 1 + wl.timed_runs or time.monotonic() - start < seconds:
            tr = tracer if trace and len(runs) % 2 == 0 else off
            one(len(runs), tr)
        probe_docs = probe_wrong = 0
        if trace:
            tracer.run_id = "probes"
            mixed, curate = corpora["mixed"], corpora["curate"]
            layers, probe_docs, probe_wrong = W.layer_probes(
                spark, tracer,
                mixed.inputs(os.path.join(run_root, "probes-mixed")), mixed.expected,
                curate.inputs(os.path.join(run_root, "probes-curate")),
            )
    finally:
        _stop(spark)
        shutil.rmtree(run_root, ignore_errors=True)

    timed = runs[1:]
    attempted = wl.n_docs * len(runs) + probe_docs
    failed = sum(r[2] for r in runs) + probe_wrong
    untraced = [r for r in timed if not r[0]]
    docs_per_s = wl.n_docs / statistics.median(r[1] for r in untraced)
    info = [
        ("failed_frac", failed / attempted, "ratio"),
        ("session_start_s", session_s, "s"),
        ("timed_runs", len(timed), "count"),
    ] + [(f"run{j}_wall_s", r[1], "s") for j, r in enumerate(runs)]
    if not trace:
        section = "end_to_end"
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": docs_per_s,
            "peak_rss_mb": rss,
        }
    else:
        section = "per_layer"
        traced = [r for r in timed if r[0]]
        traced_dps = wl.n_docs / statistics.median(r[1] for r in traced)
        eng = [tracer.engine_totals(f"run{j}") for j, r in enumerate(runs) if r[0]]
        metrics = dict(layers)
        metrics["session.start_s"] = session_s
        for k in ("jobs", "tasks", "failed_tasks", "gc_s", "shuffle_write_mb", "spill_mb"):
            metrics[f"engine.{k}"] = statistics.median(e[k] for e in eng)
        metrics["engine.executor_cpu_s"] = statistics.median(e["cpu_s"] for e in eng)
        metrics["engine.core_busy_frac"] = statistics.median(
            e["run_s"] / (r[1] * tracer.engine.cores)
            for e, r in zip(eng, (r for r in runs if r[0]))
        )
        metrics["trace.docs_per_s"] = traced_dps
        metrics["trace.overhead_frac"] = docs_per_s / traced_dps - 1
        metrics["trace.spans"] = len(tracer.spans)
        tracer.write(os.path.join(WORK, "traces", f"{workload}-s{seed}-{os.getpid()}.json"))
        info.append(("untraced_docs_per_s", docs_per_s, "docs/s"))
    units = _units(section)
    # every declared metric is measured, and nothing undeclared is reported
    if set(metrics) != set(units):
        raise RuntimeError(
            f"{section} metrics not measured: {sorted(set(units) - set(metrics))}, "
            f"not declared: {sorted(set(metrics) - set(units))}"
        )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, info


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_translation_spark")):
        print(f"no ocr_translation_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result, info = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    for name, value, unit in info:
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
