"""Streaming-at-scale evidence (round-7 item 5): drain the stateful
streaming jobs over the sf1 events fixture (~1 M events, 10x the bench
fixture) with the ROCKSDB state store provider, and record per-job wall
drain time, output rows, on-disk checkpoint size, and the streaming
layers perfbench reports (perfbench/fold.py's fold_progress over a
StreamingQueryListener's progress records): per-batch trigger phases,
state commit, batch count, start/stop time and peak live state.

RocksDB matters because it is the provider a 100 TB deployment runs:
state lives off-heap/on-disk with incremental snapshots, so per-key
state growth (s_ewma_state's resequencing buffers, s_funnel's per-user
progress) hits the provider architecture that will actually carry it,
not the HDFS-backed in-memory map the sf0.01 tests default to.

Usage: python scripts/stream_scale_run.py [sf_dir] [job,job,...]
Prints one JSON line at the end; paste the numbers into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

JOBS = ["s_tumble", "s_upsert_foreachbatch", "s_ewma_state", "s_funnel"]


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _progress_listener():
    """A StreamingQueryListener keeping every progress record as a dict,
    with started/terminated counts to wait on (events arrive async)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def wait(self, timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            while self.terminated < self.started:
                if time.monotonic() > deadline:
                    raise RuntimeError("listener missed a query termination")
                time.sleep(0.05)

    return Listener()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf1"
    jobs = sys.argv[2].split(",") if len(sys.argv) > 2 else JOBS

    from fold import fold_progress

    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.session import (
        ROCKSDB_STATE_PROVIDER,
        get_spark,
    )
    from data_pipeline_cursor_spark.streaming.jobs import _work

    spark = get_spark("stream-scale")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_STATE_PROVIDER,
    )

    qs = get_queries()
    ckpt_root = _work("ckpt")
    out: dict[str, dict] = {}
    for name in jobs:
        before = (
            set(os.listdir(ckpt_root)) if os.path.isdir(ckpt_root) else set()
        )
        listener = _progress_listener()
        spark.streams.addListener(listener)
        try:
            t0, w0 = time.perf_counter(), time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()
            w1 = time.time()
            dt = round(time.perf_counter() - t0, 1)
            listener.wait()
        finally:
            spark.streams.removeListener(listener)
        new = (
            sorted(set(os.listdir(ckpt_root)) - before)
            if os.path.isdir(ckpt_root)
            else []
        )
        size = sum(du(os.path.join(ckpt_root, d)) for d in new)
        # streaming.* layers over the job's wall span: per-batch means of
        # the trigger phases and state commit, the batch count, and peak
        # LIVE state (per batch summed over stateful operators, max over
        # batches; 0 for jobs whose state lives outside the state store).
        # start_stop_s is the job's wall time outside its triggers.
        layers = fold_progress(listener.progress, [(w0, w1)])
        out[name] = {
            "drain_sec": dt,
            "out_rows": n,
            **{k: round(v, 3) for k, v in layers.items()},
            # cumulative on-disk checkpoint retention across the drain's
            # micro-batches — RETENTION, not live state; kept for the
            # storage-footprint story only
            "ckpt_retained_bytes": size,
        }
        print(f"# {name}: {out[name]}", flush=True)
    print(json.dumps({"sf": sf_dir, "provider": "rocksdb", "jobs": out}))


if __name__ == "__main__":
    main()
