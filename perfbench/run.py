"""icebug-spark benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run starts one Spark session pinned to
local[nproc] with nproc shuffle partitions and its local and warehouse
directories under ``.perfbench_work/``, then:

1. set-up: the inputs are generated from the seed and loaded once;
   ``setup_s`` is session start + input preparation + one-off state + one
   warm-up pass. The warm-up pass collects every op's output and checks it
   against an independent numpy reference (``reference.py``);
2. passes in a closed loop until ``--seconds`` have elapsed, and at least
   the workload's ``min_passes``. Each op is
   timed to a full fingerprint of every output column (sum of
   pmod(xxhash64(cols), 2^31) plus the row count), which must equal the
   fingerprint of the output checked in step 1.

The last line of stdout is the result JSON: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A human-readable
report, including every per-op time, goes to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: stop starting passes after this long, to end well inside 180 s
DEADLINE_S = 140.0
#: JVM JIT pins. Every pass plans new queries, so with the default tiered
#: JIT the C2 compiler keeps compiling for six or more passes and the first
#: timed pass runs 1.1-1.7x the steady time, by an amount that varies from
#: run to run. C1 alone reaches its steady speed within the warm-up pass;
#: C1's default 48 MB code cache fills, and its sweeper then flushes and
#: recompiles in bursts, hence the larger cache.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def start_session(work: str, nproc: int, trace: bool):
    """Pin the session through the environment ``session.get_spark`` reads,
    plus static confs passed to the JVM launch."""
    from icebug_spark import session

    os.makedirs(f"{work}/tmp")
    os.environ.update({
        # temp files of Python, its Spark workers and every JVM spark-submit
        # starts stay in the work dir
        "TMPDIR": f"{work}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData {JIT_OPTS}",
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_MASTER": f"local[{nproc}]",
        "SPARK_SHUFFLE_PARTITIONS": str(nproc),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        # Python workers import the package from the checkout too
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
    })
    confs = {"spark.sql.warehouse.dir": f"{work}/warehouse"}
    if trace:
        os.makedirs(f"{work}/eventlog")
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{work}/eventlog",
                      # no zstd module is installed to read a compressed log
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def storage_mb(spark) -> float:
    """Memory + disk held by the session's persisted and checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def fingerprint(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*df.columns), F.lit(2**31))
    row = df.select(h.alias("h")).agg(F.sum("h"), F.count(F.lit(1))).collect()[0]
    return int(row[0] or 0), int(row[1])


def run(args, work: str) -> dict:
    import tracing as tr

    nproc = len(os.sched_getaffinity(0))
    tracer = tr.Tracer(enabled=bool(args.trace))
    spark, start_s = start_session(work, nproc, tracer.enabled)
    try:
        m = measure(args, spark, start_s, work, nproc, tracer)
    finally:
        stop_session(spark)
    if tracer.enabled:
        # the event log is complete only once the session has stopped
        metrics = layer_metrics(m, tracer, f"{work}/eventlog", start_s)
    else:
        metrics = {"setup_s": (m["setup_s"], "s"), "pass_s": (m["pass_s"], "s")}
    return {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def measure(args, spark, start_s: float, work: str, nproc: int, tracer) -> dict:
    """Set-up, the checked warm-up pass and the timed passes;
    returns what the metrics are computed from."""
    import workloads

    t_proc = time.perf_counter()
    sc = spark.sparkContext
    if tracer.enabled:
        tracer.count_checkpoints()
    log(f"# session: master={sc.master} jvm={JIT_OPTS} "
        f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
        f"local.dir={os.environ['SPARK_LOCAL_DIRS']} "
        f"warehouse.dir={spark.conf.get('spark.sql.warehouse.dir')} start={start_s:.3f}s")

    setup_parts: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def timed(name):
        span = tracer.begin(sc, name)
        t = time.perf_counter()
        try:
            yield
        finally:
            setup_parts.setdefault(name, []).append(time.perf_counter() - t)
            tracer.end(span)

    wl = workloads.WORKLOADS[args.workload](args.seed, nproc)
    t = time.perf_counter()
    wl.prepare(spark, f"{work}/inputs", timed)
    prep_s = time.perf_counter() - t
    artifact_mb = storage_mb(spark)
    t = time.perf_counter()
    if hasattr(wl, "init_state"):
        wl.init_state(spark)
    init_s = time.perf_counter() - t
    log(f"# inputs: {json.dumps(wl.sizes())}")
    log(f"# input preparation: {prep_s:.3f} s, initial state: {init_s:.3f} s")
    steps = wl.steps()  # builds the references; untimed

    attempted = failed = 0
    # warm-up pass: collect every output and check it
    verified: list[list[tuple[int, int]] | None] = []
    warm_s = 0.0
    for step in steps:
        attempted += 1
        try:
            t = time.perf_counter()
            outs = step.run()
            pdfs = [o.toPandas() for o in outs]
            warm_s += time.perf_counter() - t
            why = step.check(pdfs)
            fps = [fingerprint(spark.createDataFrame(p, schema=o.schema)) for p, o in zip(pdfs, outs)]
        except Exception:
            why, fps = "raised:\n" + traceback.format_exc(), None
        if why is not None:
            failed += 1
            fps = None
            log(f"# FAILED check {step.op}: {why}")
        verified.append(fps)
    if hasattr(wl, "minhash_recall"):
        log(f"# minhash recall: {wl.minhash_recall:.3f} of the exact Jaccard pairs")
    setup_s = start_s + prep_s + init_s + warm_s
    mb_setup = storage_mb(spark)

    # closed loop: one client, next pass when the previous one completes
    passes: list[dict] = []
    t0 = time.perf_counter()
    while True:
        times: dict[str, float] = {}
        spans = []
        for step, want in zip(steps, verified):
            attempted += 1
            span = tracer.begin(sc, step.op)
            t = time.perf_counter()
            try:
                got = [fingerprint(o) for o in step.run()]
                ok = got == want
            except Exception:
                log(traceback.format_exc())
                ok = False
            dt = time.perf_counter() - t
            tracer.end(span)
            spans.append(span)
            if not ok:
                failed += 1
                log(f"# FAILED {step.op} in pass {len(passes)}")
            times[step.op] = dt
        times["pass"] = sum(times.values())
        passes.append({"times": times, "spans": spans})
        log(f"# pass {len(passes)}: {times['pass']:.3f} s ("
            + ", ".join(f"{k} {v:.2f}" for k, v in times.items() if k != "pass") + ")")
        if time.perf_counter() - t_proc > DEADLINE_S:
            break
        if len(passes) >= getattr(wl, "min_passes", 1) and time.perf_counter() - t0 >= args.seconds:
            break

    def med(key):
        return statistics.median(p["times"][key] for p in passes)

    report = {"setup_s": (setup_s, "s"), "pass_s": (med("pass"), "s"),
              "storage_mb": (mb_setup, "MB"), "failed_ops": (failed / attempted, "fraction")}
    for key in wl.e2e_ops:
        report[f"{key}_s"] = (med(key), "s")
    for k, (v, u) in report.items():
        n = f" (median of {len(passes)} passes)" if k.endswith("_s") and k != "setup_s" else ""
        log(f"# {args.workload} {k} = {v:.4f} {u}{n}")
    static = None
    if tracer.enabled and hasattr(wl, "static_recompute_s"):
        static = wl.static_recompute_s()
    return {"wl": wl, "passes": passes, "setup_s": setup_s, "pass_s": med("pass"),
            "attempted": attempted, "failed": failed, "setup_parts": setup_parts,
            "artifact_mb": artifact_mb, "mb_setup": mb_setup,
            "mb_end": storage_mb(spark), "static": static}


def layer_metrics(m: dict, tracer, log_dir: str, start_s: float) -> dict:
    import tracing as tr
    from workloads import LAYER_OF_OP

    wl, passes, setup_parts, static = m["wl"], m["passes"], m["setup_parts"], m["static"]

    jobs, stages = tr.read_event_log(log_dir)
    per_pass: list[dict[str, dict]] = []
    ckpt = []
    for p in passes:
        acc: dict[str, dict] = {}
        n_ck, s_ck = 0, 0.0
        for span in p["spans"]:
            figs = tr.attribute(span, jobs, stages)
            a = acc.setdefault(span.name, {k: 0.0 for k in figs})
            for k, v in figs.items():
                a[k] += v
            c, s = tracer.checkpoints_in(span)
            n_ck, s_ck = n_ck + c, s_ck + s
        per_pass.append(acc)
        ckpt.append((n_ck, s_ck))

    out: dict[str, tuple[float, str]] = {}
    for op, layer in LAYER_OF_OP.items():
        for metric, unit in tr.OP_METRICS:
            vals = [pp[op][metric] for pp in per_pass if op in pp]
            out[f"{layer}.{op}.{metric}"] = (statistics.median(vals) if vals else 0.0, unit)

    def med_setup(name):
        return statistics.median(setup_parts[name]) if name in setup_parts else 0.0

    builds = [s for s in tracer.spans if s.name == "catalog.artifact_build"]
    untagged = [tr.attribute(s, jobs, stages)["untagged_jobs"] for s in builds]
    ngram = [pp["ngram_jaccard"]["shuffle_records"] for pp in per_pass if "ngram_jaccard" in pp]
    n_pairs = getattr(wl, "n_ngram_pairs", 0)
    ratios = {}
    for op in ("dyn_cc", "dyn_bfs"):
        dyn = statistics.median(p["times"][op] for p in passes) if static else 0.0
        ratios[op] = dyn / static[op] if static else 0.0
    out.update({
        "session.start_s": (start_s, "s"),
        "session.pass_s": (statistics.median(p["times"]["pass"] for p in passes), "s"),
        "session.storage_mb": (m["mb_setup"], "MB"),
        "session.storage_growth_mb": ((m["mb_end"] - m["mb_setup"]) / len(passes), "MB"),
        "catalog.artifact_build_s": (med_setup("catalog.artifact_build"), "s"),
        "catalog.artifact_mb": (m["artifact_mb"] if builds else 0.0, "MB"),
        "catalog.untagged_jobs": (statistics.median(untagged) if untagged else 0.0, "count"),
        "sources.read_graph_s": (med_setup("sources.read_graph"), "s"),
        "plans.checkpoints": (statistics.median(c for c, _ in ckpt), "count"),
        "plans.checkpoint_s": (statistics.median(s for _, s in ckpt), "s"),
        "streaming.dyn_cc_vs_static": (ratios["dyn_cc"], "ratio"),
        "streaming.dyn_bfs_vs_static": (ratios["dyn_bfs"], "ratio"),
        "llm.minhash_recall": (getattr(wl, "minhash_recall", 0.0), "ratio"),
        "llm.ngram_shuffle_rows_per_pair": (
            statistics.median(ngram) / n_pairs if ngram and n_pairs else 0.0, "rows/pair"),
    })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM unwind through the finally blocks: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    try:
        import icebug_spark  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"perfbench: cannot import the program from {ROOT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    if args.seconds < 1:
        log("perfbench: --seconds must be at least 1")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
