"""Closed-loop capacity of the tail path, used to fix the tail rate.

    python3 perfbench/capacity.py [--seed N] [--segments N]

Preloads a table exactly as the tail_cow workload does, puts every segment
in the tail directory at once and drains it with
`run_debezium_tail(available_now=True)`, `max_files_per_trigger` as in
config.json. Prints segments/s. The first drain runs on a cold JVM and is
discarded; the second is reported. `rate_segments_per_s` in config.json is
set once to about half of this figure, measured on the seed engine, and
is not re-derived when the engine changes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--segments", type=int, default=64)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from airbyte_spark.sources.debezium_tail import run_debezium_tail

    import run as R
    import workloads as W
    from spans import ByteMeter, Patcher

    cfg = R.load_json(os.path.join(HERE, "config.json"))
    t = cfg["tail"]
    work = R.make_work_root("capacity-")
    patcher, spark = Patcher(), None
    try:
        spark, master = R.start_spark(work, cfg, None)
        ctx = W.Ctx(spark, cfg, args.seed, work, ByteMeter(patcher), None)
        seconds = (args.segments - t["warm_segments"]) / t["rate_segments_per_s"]
        st = W.tail_inputs(ctx, seconds)
        rates = []
        for rep in range(2):
            pipe = W.tail_preload(ctx, st, rep, "cow")
            pipe.auto_compact_files = t["auto_compact_files"]
            pipe.auto_expire_keep = t["auto_expire_keep"]
            tail_dir = ctx.path(f"tail{rep}")
            os.makedirs(tail_dir)
            for s, src in st["files"].items():
                os.link(src, os.path.join(tail_dir, f"s{s:08d}.json"))
            t0 = time.time()
            run_debezium_tail(pipe, tail_dir, ctx.path(f"ck{rep}"), batch_span=t["span"],
                              available_now=True,
                              max_files_per_trigger=t["max_files_per_trigger"])
            rates.append(len(st["files"]) / (time.time() - t0))
        print(json.dumps({"master": master, "segments": len(st["files"]),
                          "segments_per_s": round(rates[-1], 3),
                          "cold_segments_per_s": round(rates[0], 3)}))
    finally:
        patcher.close()
        if spark is not None:
            R.stop_spark(spark)
        R.remove_work_root(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
