"""Crawl-to-KG benchmark: one cold job per process.

    python3 crawlbench/run.py --workload recrawl|publish --seed N \
        --seconds S --trace 0|1 [--selftest]

Run from the root of a checkout.  The process builds its inputs from the
seed, starts ``local[<cores>]`` with the program's own session defaults,
runs one job as a ``jobs.py`` application would (a fresh driver JVM, cold
JIT and codegen included), checks the outputs apart from the program and
prints one JSON result as the last line of standard output.  A round is one
whole job, so ``--seconds`` never cuts it short; a job takes 30-55 s on
4 cores, about ``--seconds`` on average over the two workloads.

``--trace 1`` runs the same job with the layer wrappers of layers.py and
reports per-layer metrics instead of the end-to-end ones.  ``--selftest``
also feeds corrupted copies of the outputs to the checks.  ``--setup-only
DIR`` writes the inputs (for recrawl: the gold-derived base catalog; for
publish: the gold-derived triples) to DIR and exits.
"""

from __future__ import annotations

import os
import sys
import time

T0 = float(os.environ.get("CRAWLBENCH_T0") or time.time())
_DROP = ("SPARK_DRIVER_MEM",)

if os.environ.get("PYTHONHASHSEED") != "0" or any(
        k.startswith("SPARK_GRAFT_") or k in _DROP for k in os.environ):
    # pin the environment before anything starts: the program's defaults
    # are what gets measured, and string hashing is the same in every run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in _DROP}
    env.update(PYTHONHASHSEED="0", CRAWLBENCH_T0=repr(T0))
    os.execve(sys.executable, [sys.executable, *sys.argv], env)

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("recrawl", "publish"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--setup-only", metavar="DIR")
    return ap.parse_args(argv)


def session(workdir: str):
    from tabbyld_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="crawlbench",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            # perf data would go to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> list[int]:
    """Stop Spark, end the driver JVM and wait for every process it started;
    returns the pids that did not end."""
    import proctree

    from pyspark import SparkContext

    pids = [p for p in proctree.tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    return proctree.wait_gone(pids, 60)


def read_outputs(workload: str, workdir: str, res: dict) -> dict:
    import checks
    import inputs

    cat = os.path.join(workdir, "catalog")
    if workload == "publish":
        out = {"published": checks.read_table(cat, "kg_triples"),
               "published_manifest": checks.manifest(cat, "kg_triples"),
               "stats": checks.read_table(cat, res["stats_table"]),
               "schema": inputs.PUBLISH}
        out["committed_triples"] = len(out["published"])
    else:
        out = {t: checks.read_table(cat, t) for t in ("cea", "cta", "cpa", "triples")}
        out["delta"] = res["delta"]
        out["committed_triples"] = len(out["triples"])
    return out


def changed_rows(workload: str, out: dict, inp) -> int:
    """Rows that differ from the catalog's previous state, over the tables
    the job commits (for publish every committed row is new)."""
    import checks

    if workload == "publish":
        return len(out["published"]) + len(out["stats"])
    n = 0
    for t in ("cea", "cta", "cpa", "triples"):
        new, old = checks.rows(out[t]), checks.rows(inp.base[t])
        n += sum((new - old).values()) + sum((old - new).values())
    return n


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tabbyld_spark")):
        print(f"crawlbench: no tabbyld_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    import checks
    import proctree
    import workloads

    if args.setup_only:
        inp = workloads.SETUP[args.workload](os.path.abspath(args.setup_only), args.seed)
        print(json.dumps({"inputs": os.path.abspath(args.setup_only), "pages": inp.n_pages}))
        return 0

    workdir = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.makedirs(tempfile.tempdir)
    host0 = proctree.host_cpu_ticks()
    try:
        # memory is sampled only in the traced run: reading the JVM's
        # smaps takes its memory-map lock, which the timed run should not pay
        sampler = proctree.PeakPss(os.getpid()) if args.trace else contextlib.nullcontext()
        with sampler as pss:
            inp = workloads.SETUP[args.workload](workdir, args.seed)
            spark = session(workdir)
            setup_s = time.time() - T0

            tracer = None
            if args.trace:
                import layers

                tracer = layers.Tracer(spark)
                tracer.install()
                tracer.start()
            done: list[str] = []
            cpu0 = proctree.tree_cpu_s(os.getpid())
            t0 = time.time()
            try:
                res = workloads.JOBS[args.workload](spark, workdir, done)
            except Exception:
                traceback.print_exc()
                res = None
            job_s = time.time() - t0
            cpu_s = proctree.tree_cpu_s(os.getpid()) - cpu0

            out = read_outputs(args.workload, workdir, res) if res is not None else None
            if tracer is not None:
                tracer.stop()
                extra = dict(res or {})
                if out is not None:
                    extra["changed_rows"] = changed_rows(args.workload, out, inp)
                layer_metrics = tracer.metrics(extra)
            t1 = time.time()
            left = stop(spark)
            t2 = time.time()

            failures: dict[str, list[str]] = {}
            misses: list[str] = []
            if out is not None:
                failures = checks.run_checks(args.workload, out, inp)
            t3 = time.time()
            if out is not None and args.selftest:
                misses = checks.self_test(args.workload, out, inp)
        attempted = workloads.COMMITS[args.workload]
        failed = attempted - len(done)
        correct = (res is not None and not any(failures.values())
                   and not misses and not left)
        log = {"workload": args.workload, "seed": args.seed, "pages": inp.n_pages,
               "cores": len(os.sched_getaffinity(0)), "trace": args.trace,
               "host": proctree.host_share(host0, proctree.host_cpu_ticks()),
               "check_failures": {k: v for k, v in failures.items() if v},
               "selftest_misses": misses if args.selftest else None,
               "processes_left": left, "job_s": round(job_s, 3),
               "stop_s": round(t2 - t1, 3), "checks_s": round(t3 - t2, 3),
               "selftest_s": round(time.time() - t3, 3)}
        print("# run " + json.dumps(log), file=sys.stderr)

        if args.trace:
            # peak memory swings 35% between runs of one workload (the JVM
            # heap grows with GC timing), too much for a bound: reported
            # here, without one
            layer_metrics["run.peak_rss_mb"] = pss.peak_mb
            metrics = {k: {"value": layer_metrics[k], "unit": layers.unit(k)}
                       for k in layers.names()}
        else:
            n_triples = out["committed_triples"] if out is not None else 0
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "job_s": {"value": job_s, "unit": "s"},
                "cpu_s": {"value": cpu_s, "unit": "s"},
                "triples_per_s": {"value": n_triples / job_s, "unit": "1/s"},
            }
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
