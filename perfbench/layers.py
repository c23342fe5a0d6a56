"""Per-layer metrics of a traced pass, from its spans and the event log.

A commit is one `pipeline.apply` span (one `CdcPipeline.apply_batch`
call). Per-commit figures are means over the pass's commits; `maint.*`
figures are totals over the pass (auto-maintenance inside commits plus the
closing `compact_versions`). A layer's self time is its span's duration
minus the part of that interval its child spans cover. Metrics a workload
does not exercise are 0: `source.*` on catchup (no stream), `pipeline.plan_s`
and `pipeline.commits` on the tails (no planning pass), the prune counts on
tail_mor (merge-on-read appends without pruning).
"""

from __future__ import annotations

from collections import defaultdict

from eventlog import union_s


class SpanTree:
    def __init__(self, spans):
        self.spans = [s for s in spans if s.t1 is not None]
        self.kids = defaultdict(list)
        for s in self.spans:
            self.kids[s.parent].append(s)

    def subtree(self, sp) -> list:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids[s.id])
        return out

    def self_s(self, sp) -> float:
        covered = union_s(
            (max(k.t0, sp.t0), min(k.t1, sp.t1)) for k in self.kids[sp.id] if k.t1 > sp.t0
        )
        return sp.dur - covered

    def named(self, root, prefix: str) -> list:
        return [s for s in self.subtree(root) if s.name.startswith(prefix)]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _attr(spans, key: str) -> float:
    return sum(s.attrs.get(key, 0) for s in spans)


def compute(elog, res: dict) -> dict[str, float]:
    tree = SpanTree(res["tracer"].spans)
    commits = [s for s in tree.spans if s.name == "pipeline.apply"]
    if not commits:
        raise RuntimeError("the traced pass recorded no commit span")
    ids = {c.id: {str(s.id) for s in tree.subtree(c)} for c in commits}
    m: dict[str, float] = {}

    def per_commit(fn) -> float:
        return _mean(fn(c) for c in commits)

    # streaming.pipeline
    writes = {c.id: tree.named(c, "merge.merge_upsert") + tree.named(c, "merge.append_winners")
              for c in commits}
    m["pipeline.apply_self_s"] = per_commit(lambda c: c.dur - sum(s.dur for s in writes[c.id]))
    m["pipeline.jobs_per_commit"] = per_commit(lambda c: len(elog.jobs_of(ids[c.id])))
    m["pipeline.driver_s_per_commit"] = per_commit(
        lambda c: c.dur - elog.job_busy_s(elog.jobs_of(ids[c.id]))
    )
    replays = [s for s in tree.spans if s.name == "pipeline.replay"]
    m["pipeline.plan_s"] = _mean(sum(p.dur for p in tree.named(r, "pipeline.plan")) for r in replays)
    m["pipeline.commits"] = _mean(len(tree.named(r, "pipeline.apply")) for r in replays)

    # lake.merge
    m["merge.self_s"] = per_commit(lambda c: sum(tree.self_s(s) for s in writes[c.id]))
    prunes = {c.id: tree.named(c, "merge.prune") for c in commits}
    m["merge.prune_s"] = per_commit(lambda c: sum(s.dur for s in prunes[c.id]))
    for k in ("live_files", "after_bucket_files", "after_range_files", "candidate_files"):
        m[f"merge.{k}"] = per_commit(lambda c, k=k: _attr(prunes[c.id], k))
    live = sum(_attr(p, "live_files") for p in prunes.values())
    cand = sum(_attr(p, "candidate_files") for p in prunes.values())
    m["merge.candidate_share"] = cand / live if live else 0.0
    rewritten = sum(_attr(p, "candidate_rows") for p in prunes.values())
    winners = sum(_winner_keys(res["con"], c.key) for c in commits if prunes[c.id])
    m["merge.rewrite_useful_share"] = winners / rewritten if rewritten else 0.0

    # lake.bloom
    m["bloom.probes"] = per_commit(lambda c: _attr(tree.subtree(c), "bloom_probes"))
    m["bloom.rejects"] = per_commit(lambda c: _attr(tree.subtree(c), "bloom_rejects"))
    m["bloom.load_s"] = per_commit(lambda c: sum(s.dur for s in tree.named(c, "bloom.load")))
    m["bloom.build_s"] = per_commit(lambda c: sum(s.dur for s in tree.named(c, "bloom.build")))

    # functions.extract: the Arrow UDF node of the commit's jobs
    def arrow(c, metric):
        return elog.sql_metric(ids[c.id], "ArrowEvalPython", metric)

    m["extract.rows"] = per_commit(lambda c: arrow(c, "number of output rows"))
    m["extract.bytes_sent"] = per_commit(lambda c: arrow(c, "data sent to Python workers"))
    m["extract.python_s"] = per_commit(lambda c: arrow(c, "time to run Python workers"))
    m["extract.worker_start_s"] = per_commit(
        lambda c: arrow(c, "time to start Python workers")
        + arrow(c, "time to initialize Python workers")
    )
    m["extract.non_ascii_share"] = res["summary"]["non_ascii_share"]

    # lake.format
    m["format.stage_write_s"] = per_commit(
        lambda c: sum(s.dur for s in tree.named(c, "format.stage_write"))
    )
    m["format.footer_stats_s"] = per_commit(
        lambda c: union_s((s.t0, s.t1) for s in tree.named(c, "format.footer_stats"))
    )
    m["format.commit_s"] = per_commit(lambda c: sum(s.dur for s in tree.named(c, "format.commit")))
    for k in ("manifest_reads", "manifest_read_s"):
        m[f"format.{k}"] = per_commit(lambda c, k=k: _attr(tree.subtree(c), k))
    for k in ("manifest_bytes", "bytes_written", "files_written", "bytes_removed"):
        m[f"format.{k}"] = per_commit(lambda c, k=k: _attr(tree.subtree(c), f"format.{k}"))

    # reads
    reads = [s for s in tree.spans if s.name == "read.final_state"]
    m["read.rows_scanned"] = _mean(
        elog.sql_metric({str(s.id) for s in tree.subtree(r)}, "Scan", "number of output rows")
        for r in reads
    )
    m["read.versions_per_key"] = res["stored_rows"] / max(1, res["live"])

    # maintenance, totals over the pass
    maint = [s for s in tree.spans if s.name.startswith("maint.")]
    m["maint.runs"] = float(len(maint))
    m["maint.compact_s"] = sum(s.dur for s in maint if s.name.startswith("maint.compact"))
    m["maint.expire_s"] = sum(s.dur for s in maint if s.name == "maint.expire")
    m["maint.vacuum_s"] = sum(s.dur for s in maint if s.name == "maint.vacuum")
    m["maint.bytes_rewritten"] = sum(
        _attr(tree.subtree(s), "format.bytes_written")
        for s in maint if s.name.startswith("maint.compact")
    )

    # the merge Spark job: jobs launched under format.stage_write in commits
    sw = set()
    for c in commits:
        sw |= {str(x.id) for s in tree.named(c, "format.stage_write") for x in tree.subtree(s)}
    tasks = elog.task_totals(sw)
    n = len(commits)
    m["job.scan_s"] = elog.sql_metric(sw, "Scan", "scan time") / n
    m["job.shuffle_bytes"] = tasks["shuffle_bytes"] / n
    m["job.shuffle_write_s"] = tasks["shuffle_write_ns"] / 1e9 / n
    m["job.sort_s"] = elog.sql_metric(sw, "Sort", "sort time") / n
    m["job.spill_bytes"] = (tasks["mem_spill"] + tasks["disk_spill"]) / n
    m["job.write_s"] = elog.task_totals(sw, write_only=True)["run_ms"] / 1e3 / n
    m["job.task_s"] = tasks["run_ms"] / 1e3 / n
    m["job.gc_s"] = tasks["gc_ms"] / 1e3 / n

    # accounting along a commit: every instant of a commit lies in exactly
    # one span's self time; the apply span's own self time is the part no
    # named layer claims
    m["trace.unattributed_s"] = per_commit(tree.self_s)
    m["trace.attributed_share"] = per_commit(lambda c: 1 - tree.self_s(c) / c.dur if c.dur else 1)

    m.update(_source(elog, res, commits) if "batches" in res else _no_source())
    return m


def _winner_keys(con, label: str | None) -> int:
    """Distinct keys among a commit's segments: one winner per key."""
    segs = [int(k.split("-", 1)[1]) for k in (label or "").split(",") if k.startswith("ckpt-")]
    if not segs:
        return 0
    q = f"SELECT count(DISTINCT url) FROM ev WHERE seg IN ({','.join(map(str, segs))})"
    return con.execute(q).fetchone()[0]


def _no_source() -> dict[str, float]:
    return {k: 0.0 for k in ("source.batch_self_s", "source.trigger_overhead_s",
                             "source.queue_wait_s", "source.segments_per_batch",
                             "source.jobs_per_batch")}


def _source(elog, res: dict, commits) -> dict[str, float]:
    """Per micro-batch: the commit span inside the batch's trigger window
    splits addBatch into the source's own work and the apply."""
    rows = []
    for b in res["batches"]:
        t0 = b["t"]
        t1 = t0 + b["ms"]["triggerExecution"] / 1000.0
        inside = [c for c in commits if t0 - 0.005 <= c.t0 and c.t1 <= t1 + 0.005]
        segs = [int(k.split("-", 1)[1]) for c in inside for k in c.key.split(",")]
        if not inside or not segs:
            continue
        jobs = [j for j, v in elog.jobs.items()
                if v["query"] == res["query_id"] and v["batch"] == str(b["id"])]
        rows.append({
            "self": b["ms"]["addBatch"] / 1000.0 - sum(c.dur for c in inside),
            "trigger": (b["ms"]["triggerExecution"] - b["ms"]["addBatch"]) / 1000.0,
            "wait": t0 - min(res["dues"][s] for s in segs),
            "segs": len(segs),
            "jobs": len(jobs),
        })
    if not rows:
        raise RuntimeError("no micro-batch could be matched to a commit span")
    return {
        "source.batch_self_s": _mean(r["self"] for r in rows),
        "source.trigger_overhead_s": _mean(r["trigger"] for r in rows),
        "source.queue_wait_s": _mean(r["wait"] for r in rows),
        "source.segments_per_batch": _mean(r["segs"] for r in rows),
        "source.jobs_per_batch": _mean(r["jobs"] for r in rows),
    }
