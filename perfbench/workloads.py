"""The three workloads: set-up, one timed pass, and the output check.

catchup   closed loop: `CdcPipeline.replay` of a backlog into an empty COW
          table, repeated into fresh tables until the run time is spent.
tail_cow  open loop: pre-written Debezium JSONL segments are renamed into
          the tail directory at a fixed rate while `run_debezium_tail`
          (available_now=False) drains them into a preloaded COW table
          with auto-compaction and snapshot expiry on.
tail_mor  the same stream into a merge-on-read table, then the reads and
          one `compact_versions`.

One `Monitor` thread is the load generator: it releases segments when they
fall due, records when each manifest version appears (its mtime is the
moment a commit became visible), and samples RSS of this process tree.
"""

from __future__ import annotations

import gc
import glob
import os
from contextlib import nullcontext
import statistics
import threading
import time

import pyspark.sql.functions as F

import gen
import oracle


def cpu_stat() -> list[int]:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return [int(x) for x in f[1:9]]  # user nice sys idle iowait irq sirq steal


def cpu_shares(a: list[int], b: list[int]) -> dict:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {"steal_pct": round(100 * d[7] / tot, 2), "idle_pct": round(100 * d[3] / tot, 2)}


def _tree_rss_bytes(root: int) -> int:
    """RSS of `root`, its driver JVM (a `java` child) and the Python workers
    below the JVM. Other descendants are skipped: a child the JVM is
    spawning shares the JVM's memory until it execs, and would count it
    a second time."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss[int(name)] = int(fh.read().split()[1]) * page
        except OSError:
            continue
        pid = int(name)
        comm[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    total, todo = rss.get(root, 0), [root]
    while todo:
        parent = todo.pop()
        for pid in children.get(parent, []):
            name = comm.get(pid, "")
            if (parent == root and name == "java") or name.startswith("python"):
                total += rss.get(pid, 0)
            todo.append(pid)
    return total


def percentile_with_tail(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(p, value): the highest of a fixed ladder of percentiles that has at
    least `min_beyond` samples above it, by nearest rank."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 66.0, 50.0):
        rank = max(1, -(-int(p * n) // 100))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    raise ValueError(f"{n} samples cannot support a tail percentile with {min_beyond} beyond")


class Monitor(threading.Thread):
    """Load generator and observer, one thread.

    `schedule(items)` takes (due_epoch_s, src, dst) renames; each is done
    at its due time and its actual time recorded. `watch(meta_dir)` adds a
    manifest directory whose new `v*.json` heads are stamped with their
    mtime. While `sampling` is set, RSS of the process tree is sampled."""

    POLL_S = 0.05  # manifest heads carry their own mtime: polling need not be tight
    RSS_EVERY_S = 0.25

    def __init__(self):
        super().__init__(name="perfbench-monitor", daemon=True)
        self._lock = threading.Lock()
        self._pending: list[tuple[float, str, str]] = []
        self.released: dict[str, tuple[float, float]] = {}  # dst -> (due, done)
        self._dirs: list[str] = []
        self.versions: dict[tuple[str, int], float] = {}
        self.sampling = False
        self.peak_rss = 0
        self._halt = threading.Event()
        self._wake = threading.Event()  # set by schedule() and stop()
        self.error: BaseException | None = None

    def schedule(self, items) -> None:
        with self._lock:
            self._pending.extend(items)
            self._pending.sort()
        self._wake.set()

    def watch(self, meta_dir: str) -> None:
        with self._lock:
            self._dirs.append(meta_dir)

    def pending(self) -> int:
        with self._lock:
            return len(self._pending)

    def stop(self) -> None:
        self._halt.set()
        self._wake.set()
        self.join(timeout=10)
        if self.error is not None:
            raise RuntimeError("monitor thread failed") from self.error

    def run(self) -> None:
        """Sleep until the next release, poll or sample is due: the thread
        stays off the CPU the engine is measured on."""
        try:
            next_rss = next_poll = 0.0
            while not self._halt.is_set():
                self._wake.clear()  # a schedule() from here on ends the next wait
                now = time.time()
                with self._lock:
                    due = []
                    while self._pending and self._pending[0][0] <= now:
                        due.append(self._pending.pop(0))
                    dirs = list(self._dirs)
                    next_due = self._pending[0][0] if self._pending else float("inf")
                for t_due, src, dst in due:
                    os.rename(src, dst)
                    self.released[dst] = (t_due, time.time())
                if now >= next_poll:
                    for d in dirs:
                        self.poll(d)
                    next_poll = now + self.POLL_S
                if self.sampling and now >= next_rss:
                    self.peak_rss = max(self.peak_rss, _tree_rss_bytes(os.getpid()))
                    next_rss = now + self.RSS_EVERY_S
                wake = min(next_due, next_poll, next_rss if self.sampling else next_poll)
                self._wake.wait(max(0.0, wake - time.time()))
        except BaseException as exc:  # reported by stop()
            self.error = exc

    def poll(self, d: str) -> None:
        """Stamp the manifest heads of `d` not seen yet with their mtime."""
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return
        for n in names:
            if n.startswith("v") and n.endswith(".json"):
                key = (d, int(n[1:-5]))
                if key not in self.versions:
                    try:
                        t = os.stat(os.path.join(d, n)).st_mtime
                    except FileNotFoundError:
                        continue  # expired between listing and stat
                    with self._lock:
                        self.versions.setdefault(key, t)


class Ctx:
    """Per-run state shared by the workload functions."""

    def __init__(self, spark, cfg: dict, seed: int, work: str, meter, monitor):
        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.meter = meter
        self.monitor = monitor
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def tally(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.problems.append(f"{what}: {failed} of {attempted} failed")


def new_pipeline(ctx: Ctx, name: str, write_mode: str = "cow"):
    from airbyte_spark.streaming.pipeline import CdcPipeline

    return CdcPipeline.create_target(
        ctx.spark, ctx.path(name), n_buckets=ctx.cfg["layout"]["n_buckets"], write_mode=write_mode
    )


def meta_dir(pipe) -> str:
    return pipe.table._meta_dir()


# ---- reads, footprint and the output check ----------------------------------------


UNTIMED_READS = 2


def analyst_query(pipe):
    """The analyst read: the final state grouped by lang."""
    return (
        pipe.final_state()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"))
    )


def warm_reads(pipe, n: int) -> None:
    """Run the analyst read `n` times, untimed and unchecked: a set-up step
    that brings the read path's driver code to JIT-compiled speed (it takes
    tens of reads), so the timed reads do not sit on that warm-up curve."""
    for _ in range(n):
        analyst_query(pipe).collect()


def analyst_reads(ctx: Ctx, pipe, con, n: int, tracer=None) -> tuple[list[float], int]:
    """`final_state()` grouped by lang with count and sum(length(text)), `n`
    times. Each result must match the oracle's live rows per lang and the
    first result exactly. Returns the read times and the live row count."""
    times, first, bad = [], None, 0
    want = oracle.lang_counts(con)
    # the pass's garbage is collected first (the Spark context cleaner then
    # drops its shuffles and broadcasts while the untimed reads plan the
    # read), so the timed reads do not pay for the pass
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()
    for i in range(-UNTIMED_READS, n):
        t0 = time.time()
        try:
            with tracer.span("read.final_state", f"read-{i}", jobs=True) if tracer else nullcontext():
                rows = analyst_query(pipe).collect()
            dt = time.time() - t0
        except Exception as exc:  # a failed read is counted, the run goes on
            ctx.problems.append(f"read {i}: {exc!r}"[:300])
            bad += 1
            continue
        got = sorted((r["lang"], r["n"], r["chars"]) for r in rows)
        if first is None:
            first = got
        if got != first or {lang: k for lang, k, _ in got} != want:
            bad += 1
        if i >= 0:
            times.append(dt)
    ctx.tally(n + UNTIMED_READS, bad, "analyst reads")
    if not times:
        raise RuntimeError("every analyst read failed")
    return times, sum(k for _, k, _ in first)


def check_output(ctx: Ctx, pipe, con, page_cfg: dict, label: str) -> dict:
    """Compare the table's final state and committed set with the oracle."""
    out = ctx.path(f"check-{label}")
    fs = pipe.final_state()
    fs.select(
        "url",
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("ts_us"),
        F.col("_ab_cdc_lsn").alias("lsn"),
        "lang",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("got_md5"),
        gen.expected_text_md5(ctx.seed, F.col("_ab_cdc_lsn"), page_cfg).alias("exp_md5"),
    ).write.parquet(out)
    res = oracle.compare(con, f"{out}/*.parquet")
    ctx.tally(res["expected_rows"], res["mismatches"], f"final state {label} {res}")

    segs = oracle.segments(con)
    committed = pipe.table.committed()
    want = {f"ckpt-{s}" for s in segs}
    missing, extra = want - committed.keys(), committed.keys() - want
    rows_in = sum(v.get("rows_in") or 0 for v in committed.values() if "group_lead" not in v)
    seg_bad = len(missing) + len(extra) + (rows_in != sum(segs.values()))
    ctx.tally(len(want), seg_bad, f"committed segments {label}: missing {sorted(missing)[:5]} "
              f"extra {sorted(extra)[:5]} rows_in {rows_in} vs {sum(segs.values())}")
    res["segments"] = len(want)
    return res


def segment_visibility(ctx: Ctx, pipe, seg_ids: list[int]) -> dict[int, float]:
    """Epoch second at which each segment's commit became visible: the
    mtime of the manifest head of the version that committed it."""
    committed = pipe.table.committed()
    d = meta_dir(pipe)
    ctx.monitor.poll(d)  # the newest head may land between two monitor ticks
    out = {}
    for s in seg_ids:
        v = committed[f"ckpt-{s}"]["version"]
        t = ctx.monitor.versions.get((d, v))
        if t is None:
            raise RuntimeError(f"manifest v{v} of segment {s} was never observed")
        out[s] = t
    return out


def mean_html_bytes(ev_df) -> float:
    """Mean html size of the non-delete events, over every 16th lsn."""
    r = ev_df.filter((F.col("lsn") % 16 == 0) & ~F.col("is_del")).agg(F.avg("html_bytes")).first()
    return round(float(r[0]), 1)


ORACLE_COLS = ["url", "key", "warc_ts_us", "is_del", "late", "lsn", "seg", "lang", "nonascii"]


# ---- catchup ---------------------------------------------------------------------


def catchup_inputs(ctx: Ctx) -> dict:
    """The backlog (lazy: generated while the drain scans it) and its
    oracle log."""
    c = ctx.cfg["catchup"]
    ev = gen.events(ctx.spark, ctx.seed, c, 0, c["events"])
    log_dir = ctx.path("inputs", "events")
    ev.select(*ORACLE_COLS).write.parquet(log_dir)
    return {"events_df": ev, "log_glob": f"{log_dir}/*.parquet"}


def catchup_warmup(ctx: Ctx, rep: int):
    """A one-segment replay over the backlog's key space into a throwaway
    table, returned for the warm-up reads: the catchup set-up step that is
    repeated. It runs the drain's per-row paths at the drain's per-commit
    size, so the first one pays JIT, codegen and Python worker start."""
    c = ctx.cfg["catchup"]
    warm = gen.events(ctx.spark, ctx.seed + 7919 + rep, c, 0, c["warm_events"])
    pipe = new_pipeline(ctx, f"warmup{rep}")
    pipe.replay(gen.to_changelog(warm))
    return pipe


def catchup_pass(ctx: Ctx, st: dict, seconds: float, label: str) -> dict:
    """Drain the backlog into fresh tables until `seconds` have passed."""
    c = ctx.cfg["catchup"]
    changelog = gen.to_changelog(st["events_df"])
    seg_ids = list(range(-(-c["events"] // c["span"])))
    drains = []
    ctx.meter.on, ctx.monitor.sampling = True, True
    cpu0, t_start = cpu_stat(), time.time()
    # whole drains only: stop at the drain count that lands closest to
    # `seconds` (at least one)
    while not drains or time.time() - t_start + (drains[-1]["t1"] - drains[-1]["t0"]) / 2 < seconds:
        pipe = new_pipeline(ctx, f"{label}/drain{len(drains)}")
        ctx.monitor.watch(meta_dir(pipe))
        t0 = time.time()
        pipe.replay(changelog)
        t1 = time.time()
        drains.append({"pipe": pipe, "t0": t0, "t1": t1})
    cpu1 = cpu_stat()
    ctx.meter.on, ctx.monitor.sampling = False, False
    bytes_written = ctx.meter.total
    ctx.meter.data = ctx.meter.manifest = 0

    lags, commits = [], []
    for d in drains:
        vis = segment_visibility(ctx, d["pipe"], seg_ids)
        lags += [vis[s] - d["t0"] for s in seg_ids]
        commits += [r.seconds for r in d["pipe"].results if not r.skipped]
    last = drains[-1]["pipe"]
    return {
        "drains": drains,
        "pipe": last,
        "events": c["events"] * len(drains),
        "events_per_s": statistics.median(c["events"] / (d["t1"] - d["t0"]) for d in drains),
        "lags": lags,
        "commit_s": commits,
        "bytes_written": bytes_written,
        "cpu": cpu_shares(cpu0, cpu1),
        "timed_s": time.time() - t_start,
    }


# ---- tails -------------------------------------------------------------------------


def tail_lsn0(t: dict) -> int:
    """First stream lsn: past the preload's lsns and segment-aligned, so
    stream segment ids start at 1 (the preload is segment 0)."""
    return (t["keys"] // t["span"] + 1) * t["span"]


def tail_segment_count(t: dict, seconds: float) -> tuple[int, int]:
    return t["warm_segments"], int(round(t["rate_segments_per_s"] * seconds))


def tail_inputs(ctx: Ctx, seconds: float) -> dict:
    """Write one Debezium JSONL file per segment and the oracle log of the
    preload and the stream."""
    t = ctx.cfg["tail"]
    stream_cfg = dict(t, keys=int(t["keys"] * (1 + t["new_key_share"])))
    n_warm, n_timed = tail_segment_count(t, seconds)
    n_seg = n_warm + n_timed
    lsn0 = tail_lsn0(t)
    ev = gen.events(ctx.spark, ctx.seed, stream_cfg, lsn0, n_seg * t["span"])
    snap = gen.snapshot(ctx.spark, ctx.seed, t, t["keys"])
    base = ctx.path("inputs")
    # hash-partitioning by seg puts each segment in one task: one file each
    gen.to_debezium_json(ev).repartition(t["partitions"], "seg").write.partitionBy("seg").text(
        f"{base}/segments"
    )
    files = {}
    for seg_dir in glob.glob(f"{base}/segments/seg=*"):
        parts = glob.glob(f"{seg_dir}/part-*")
        if len(parts) != 1:
            raise RuntimeError(f"{seg_dir}: expected one segment file, found {len(parts)}")
        files[int(seg_dir.rsplit("=", 1)[1])] = parts[0]
    first = lsn0 // t["span"]
    if sorted(files) != list(range(first, first + n_seg)):
        raise RuntimeError(f"segment ids {sorted(files)[:3]}.. do not match the schedule")
    ev.select(*ORACLE_COLS).write.parquet(f"{base}/events/stream")
    snap.select(*ORACLE_COLS).write.parquet(f"{base}/events/preload")
    return {
        "files": files,
        "warm": list(range(first, first + n_warm)),
        "timed": list(range(first + n_warm, first + n_seg)),
        "events_df": ev,
        "snapshot_df": snap,
        "log_glob": f"{base}/events/*/*.parquet",
    }


def tail_preload(ctx: Ctx, inputs: dict, rep: int, write_mode: str):
    """A fresh table holding one insert per key (one replay commit): the
    tail set-up step that is repeated."""
    pipe = new_pipeline(ctx, f"table{rep}", write_mode)
    pipe.replay(gen.to_changelog(inputs["snapshot_df"]))
    return pipe


def _wait_rows(query, rows: int, timeout: float) -> None:
    """Wait until the query's finished batches have read `rows` input rows.
    The table's manifest is not polled: a head is written in place after
    its exclusive create, so a reader racing the writer can see it empty."""
    end = time.time() + timeout
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"tail query failed: {query.exception()}")
        done = sum(p.numInputRows for p in query.recentProgress)
        if done >= rows:
            return
        if time.time() > end:
            raise RuntimeError(f"tail query read {done} of {rows} rows in {timeout} s")
        time.sleep(0.1)


def tail_pass(ctx: Ctx, st: dict, pipe, seconds: float, label: str, tracer_install=None) -> dict:
    """Warm the stream with a few segments, then release the timed ones at
    the fixed rate and wait until every one is visible."""
    from airbyte_spark.sources.debezium_tail import run_debezium_tail

    t = ctx.cfg["tail"]
    if pipe.write_mode == "cow":
        pipe.auto_compact_files = t["auto_compact_files"]
        pipe.auto_expire_keep = t["auto_expire_keep"]
    stage, tail_dir = ctx.path(label, "stage"), ctx.path(label, "tail")
    os.makedirs(stage)
    os.makedirs(tail_dir)
    for s, src in st["files"].items():
        os.link(src, os.path.join(stage, f"s{s:08d}.json"))

    def move(s, due):
        return (due, os.path.join(stage, f"s{s:08d}.json"), os.path.join(tail_dir, f"s{s:08d}.json"))

    ctx.monitor.watch(meta_dir(pipe))
    query, dead_dir = run_debezium_tail(
        pipe, tail_dir, ctx.path(label, "checkpoint"), batch_span=t["span"],
        available_now=False, max_files_per_trigger=t["max_files_per_trigger"],
    )
    try:
        now = time.time()
        ctx.monitor.schedule([move(s, now) for s in st["warm"]])
        _wait_rows(query, len(st["warm"]) * t["span"], t["drain_timeout_s"])
        if tracer_install is not None:
            tracer_install()
        ctx.meter.on, ctx.monitor.sampling = True, True
        t0 = time.time() + 0.1
        dues = {s: t0 + i / t["rate_segments_per_s"] for i, s in enumerate(st["timed"])}
        cpu0 = cpu_stat()
        ctx.monitor.schedule([move(s, d) for s, d in dues.items()])
        while ctx.monitor.pending():
            time.sleep(0.05)
        _wait_rows(query, len(st["files"]) * t["span"], t["drain_timeout_s"])
        cpu1 = cpu_stat()
        ctx.meter.on, ctx.monitor.sampling = False, False
    finally:
        query.stop()
    bytes_written = ctx.meter.total
    ctx.meter.data = ctx.meter.manifest = 0
    if os.path.isdir(dead_dir) and any(
        os.path.getsize(p) for p in glob.glob(f"{dead_dir}/*.json")
    ):
        ctx.tally(1, 1, "dead letters written for generated envelopes")

    vis = segment_visibility(ctx, pipe, st["timed"])
    lateness = [
        ctx.monitor.released[os.path.join(tail_dir, f"s{s:08d}.json")][1] - d
        for s, d in dues.items()
    ]
    batches = [b for b in batch_progress(query) if b["t"] >= t0 - 0.1 and b["rows"] > 0]
    n_events = len(st["timed"]) * t["span"]
    commit_s = [b["ms"]["addBatch"] / 1000.0 for b in batches]
    return {
        "pipe": pipe,
        "dues": dues,
        "vis": vis,
        "lags": [vis[s] - dues[s] for s in st["timed"]],
        "commit_s": commit_s,
        "batches": batches,
        "events": n_events,
        "events_per_s": n_events / (max(vis.values()) - t0),
        "bytes_written": bytes_written,
        "cpu": cpu_shares(cpu0, cpu1),
        "max_lateness_s": max(lateness),
        "t0": t0,
        "query_id": str(query.id),
    }


def batch_progress(query) -> list[dict]:
    """Per-batch progress reports of a stopped query, read synchronously
    from `recentProgress` (a listener gets the same reports, but delivers
    them to Python asynchronously, after the query may have stopped)."""
    from datetime import datetime

    out = []
    for p in query.recentProgress:
        t = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        out.append({"id": p.batchId, "t": t, "ms": dict(p.durationMs), "rows": p.numInputRows})
    return out
