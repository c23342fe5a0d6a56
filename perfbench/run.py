"""CDC ingest benchmark: one command, every metric with its unit, outputs checked.

    python3 perfbench/run.py --workload catchup|tail_cow|tail_mor \\
        --seed N --seconds S --trace 0|1

Run from the repository root. With `--trace 0` the last stdout line holds
the end-to-end metrics of BENCHMARK.json; with `--trace 1` it holds the
per-layer metrics of a traced pass (plus the tracing overhead against an
untraced pass of the same run). Earlier lines print each metric with its
unit, the run metadata and a summary of the generated input. Everything
the run writes lives under one work root in `.perfbench-work/`, removed at
exit. Workload sizes, the tail rate and the table layout are fixed in
`perfbench/config.json`; see `perfbench/README.md`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catchup", "tail_cow", "tail_mor")


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def metric_specs(trace: bool) -> list[dict]:
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return spec["per_layer" if trace else "end_to_end"]


def source_identity() -> dict:
    """Commit (when the checkout is a git repository) and a digest of the
    engine sources, so numbers can be tied to the code that produced them."""
    commit = "unknown (not a git checkout)"
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "airbyte_spark")
    for base, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return {"commit": commit, "engine_sha256": h.hexdigest()[:16]}


def make_work_root(prefix: str) -> str:
    """Create this run's work root under .perfbench-work/ and point every
    temp and scratch location of Python, the JVM and Spark into it."""
    parent = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=prefix, dir=parent)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # SPARK_LOCAL_DIRS overrides spark.local.dir: keep shuffle files in the root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return work


def remove_work_root(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # the last run out removes the parent
    except OSError:
        pass


def start_spark(work: str, cfg: dict, eventlog_dir: str | None):
    from airbyte_spark.session import get_spark

    lay = cfg["layout"]
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": lay["driver_memory"],
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is fixed at its maximum and touched at start, so RSS does
        # not follow the collector's heap-sizing decisions from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{lay['driver_memory']} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.adaptive.enabled": str(lay["aqe"]).lower(),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    master = f"local[{os.cpu_count()}]"
    spark = get_spark("perfbench", master=master, shuffle_partitions=lay["shuffle_partitions"],
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, master


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(ctx, res: dict, reads: list[float], live: int, setup_s: float) -> tuple[dict, dict]:
    """The BENCHMARK.json end-to-end metrics of one pass, plus notes."""
    from workloads import percentile_with_tail

    p, tail = percentile_with_tail(res["lags"])
    m = {
        "setup_s": setup_s,
        "events_per_s": res["events_per_s"],
        "lag_p50_s": median(res["lags"]),
        "lag_tail_s": tail,
        "commit_p50_s": median(res["commit_s"]),
        "read_s": median(reads),
        "bytes_written_per_event": res["bytes_written"] / res["events"],
        "stored_bytes_per_live_row": res["stored_bytes"] / max(1, live),
        "peak_rss_mb": ctx.monitor.peak_rss / 2**20,
    }
    notes = {
        "lag_tail_percentile": p,
        "lag_samples": len(res["lags"]),
        "commit_samples": len(res["commit_s"]),
        "read_samples": len(reads),
        "read_times_s": [round(x, 4) for x in reads],
    }
    return m, notes


def run(args) -> int:
    import workloads as W
    from spans import ByteMeter, Patcher

    cfg = load_json(os.path.join(HERE, "config.json"))
    specs = metric_specs(bool(args.trace))
    work = make_work_root("run-")
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)
    patcher = Patcher()
    monitor = W.Monitor()
    spark = None
    try:
        t_session = time.time()
        spark, master = start_spark(work, cfg, eventlog_dir)
        session_s = time.time() - t_session
        monitor.start()
        ctx = W.Ctx(spark, cfg, args.seed, work, ByteMeter(patcher), monitor)
        out = run_workload(ctx, args, session_s, patcher)
        meta = {
            **source_identity(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "master": master,
            "spark_version": spark.version,
            "aqe": cfg["layout"]["aqe"],
            "n_buckets": cfg["layout"]["n_buckets"],
            "shuffle_partitions": cfg["layout"]["shuffle_partitions"],
            **out["meta"],
        }
        monitor.stop()
        patcher.close()
        stop_spark(spark)
        spark = None
        layer = None
        if args.trace:
            import layers
            from eventlog import EventLog, find_log

            layer = layers.compute(EventLog(find_log(eventlog_dir)), out["traced"])
            layer.update(out["overhead"])
    finally:
        try:
            patcher.close()
            if monitor.is_alive():
                monitor.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            remove_work_root(work)

    if meta.get("invalid"):
        print(f"INVALID RUN: {meta['invalid']}", file=sys.stderr)
        return 3
    values = layer if args.trace else out["metrics"]
    metrics = {}
    for s in specs:
        v = values[s["name"]]
        metrics[s["name"]] = {"value": v, "unit": s["unit"]}
        print(f"{s['name']:<32} {v:>16.6g} {s['unit']}")
    print("run_meta " + json.dumps(meta, sort_keys=True))
    print("input_summary " + json.dumps(out["summary"], sort_keys=True))
    print("checks " + json.dumps(out["checks"], sort_keys=True))
    attempted, failed = out["checks"]["attempted"], out["checks"]["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_workload(ctx, args, session_s: float, patcher) -> dict:
    import oracle
    import workloads as W
    from airbyte_spark.lake import merge as merge_mod
    from spans import Tracer

    cfg = ctx.cfg
    reps = cfg["setup_reps"]
    tail = args.workload != "catchup"
    mode = "mor" if args.workload == "tail_mor" else "cow"
    t0 = time.time()
    inputs = W.tail_inputs(ctx, args.seconds) if tail else W.catchup_inputs(ctx)
    inputs_s = time.time() - t0
    # the engine-side set-up step is repeated and its median reported
    tables, preload_times = [], []
    for rep in range(reps):
        t0 = time.time()
        tables.append(W.tail_preload(ctx, inputs, rep, mode) if tail else W.catchup_warmup(ctx, rep))
        preload_times.append(time.time() - t0)
    t0 = time.time()
    W.warm_reads(tables[-1], cfg["warm_reads"])
    warm_reads_s = time.time() - t0
    setup_s = session_s + inputs_s + median(preload_times) + warm_reads_s
    con = oracle.connect(inputs["log_glob"])
    page_cfg = cfg["tail"] if tail else cfg["catchup"]

    tracer = Tracer(ctx.spark.sparkContext) if args.trace else None

    def one_pass(table, label: str, traced: bool) -> dict:
        install = (lambda: tracer.install(patcher)) if traced else None
        marks = [time.time()]
        if tail:
            res = W.tail_pass(ctx, inputs, table, args.seconds, label, install)
        else:
            if install:
                install()
            res = W.catchup_pass(ctx, inputs, args.seconds, label)
        pipe = res["pipe"]
        marks.append(time.time())
        cpu0 = W.cpu_stat()
        reads, live = W.analyst_reads(ctx, pipe, con, cfg["reads"], tracer if traced else None)
        read_cpu = W.cpu_shares(cpu0, W.cpu_stat())
        files = pipe.table.files()
        res["stored_bytes"] = sum(e.bytes for e in files)
        res["stored_rows"] = sum(e.rows for e in files)
        res["live"] = live
        compact_s = None
        if mode == "mor":
            # merge-on-read only: collapse the retained versions once
            t0 = time.time()
            merge_mod.compact_versions(pipe.table, pipe.cfg)
            compact_s = time.time() - t0
        marks.append(time.time())
        for i, d in enumerate(res.get("drains", [{"pipe": pipe}])):
            W.check_output(ctx, d["pipe"], con, page_cfg, f"{label}-{i}")
        marks.append(time.time())
        m, notes = end_to_end(ctx, res, reads, live, setup_s)
        notes["reads_cpu"] = read_cpu  # the reads follow the host's speed closely
        if compact_s is not None:
            notes["compact_versions_s"] = round(compact_s, 3)
        notes["phase_s"] = dict(zip(
            ["pass", "reads", "check"],
            [round(b - a, 2) for a, b in zip(marks, marks[1:])],
        ))
        res["e2e"], res["notes"] = m, notes
        return res

    meta: dict = {
        "session_s": round(session_s, 3),
        "inputs_s": round(inputs_s, 3),
        "preload_times_s": [round(x, 3) for x in preload_times],
        "warm_reads_s": round(warm_reads_s, 3),
    }
    if args.trace:
        # an untraced pass first, then the traced one on the next set-up's
        # table: the difference is the tracing overhead
        base = one_pass(tables[-2], "pass-untraced", False)
        ctx.monitor.peak_rss = 0
        res = one_pass(tables[-1], "pass-traced", True)
        overhead = {f"overhead.{k}": res["e2e"][k] - base["e2e"][k] for k in res["e2e"]}
        res["tracer"] = tracer
        res["con"] = con
    else:
        res = one_pass(tables[-1], "pass", False)
        overhead = {}
    meta.update(res["notes"])
    meta.update(res["cpu"])
    if tail:
        meta["generator_max_lateness_s"] = round(res["max_lateness_s"], 4)
        bound = cfg["tail"]["generator_late_bound_s"]
        meta["generator_late_bound_s"] = bound
        if res["max_lateness_s"] > bound:
            meta["invalid"] = f"generator ran {res['max_lateness_s']:.3f} s late (bound {bound} s)"
        summary = oracle.summary(con, "seg > 0")  # the stream, without the preload
        summary["table_keys"] = cfg["tail"]["keys"]
        summary["table_keys_per_segment_keys"] = round(
            cfg["tail"]["keys"] / summary["keys_per_segment"], 1
        )
        summary["rate_segments_per_s"] = cfg["tail"]["rate_segments_per_s"]
        summary["events_per_segment"] = cfg["tail"]["span"]
    else:
        summary = oracle.summary(con)
    summary["mean_html_bytes"] = W.mean_html_bytes(inputs["events_df"])
    res["summary"] = summary
    return {
        "metrics": res["e2e"],
        "traced": res,
        "overhead": overhead,
        "meta": meta,
        "summary": summary,
        "checks": {"attempted": ctx.attempted, "failed": ctx.failed, "problems": ctx.problems},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    # the engine must be importable from the checkout before any set-up
    sys.path.insert(0, ROOT)
    import airbyte_spark.streaming.pipeline  # noqa: F401

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
