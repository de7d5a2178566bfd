"""Per-round benchmark — times every registered query at one scale factor.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with the `noop` datasource writer: full
distributed execution (scan → shuffle → sink) with zero driver
materialization, which is the honest cost model for a cluster run — a
`collect()` would add a driver bottleneck the real pipeline doesn't have.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_QUERIES (comma-list to subset —
subset runs write BENCH_SUBSET.json, never the committed BENCH_FULL.json;
regression ratios compare against git HEAD's BENCH_FULL.json unless
BENCH_BASE overrides),
BENCH_REPEATS (default 2 — per-query BEST-of-N; the host is co-tenant
with load-avg swings of 3-8 that inflate any single run up to 3x on
arbitrary queries, so the minimum is the reproducible-machine number;
BASELINE.md's recorded envelope uses the same convention).

The full payload also records, per query and per repeat, the JVM layers
the query moved (``jvm``: codegen compiles, JIT, GC and class-loading
deltas, read through py4j), and the run's provenance (cores, master,
git sha, load average, codegen cache bound).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

JVM_LAYERS = ("codegen_compiles", "jit_ms", "gc_ms", "classes_loaded")


def _jvm_counters(jvm) -> dict:
    """The JVM's cumulative counters behind ``JVM_LAYERS``: whole-stage
    codegen compiles (exact, one histogram update per Janino compile),
    JIT compile ms, GC ms summed over the collectors, classes loaded."""
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def _git_sha(repo_dir: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def main() -> None:
    load_before = os.getloadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_pipeline_cursor_spark.registry import get_queries
    from data_pipeline_cursor_spark.session import get_spark

    spark = get_spark("bench")
    jvm = spark.sparkContext._jvm
    # The remaining unpartitioned windows run over summary-grain inputs
    # only (q_gap_detect's per-bucket handoff, x_curriculum_order's
    # per-score cumulative — pinned by tests/test_plans.py); WindowExec's
    # blanket no-partition warning is noise in the bench tail, so demote
    # that single logger.
    try:
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend differs — warnings are cosmetic anyway
    queries = get_queries()
    subset = os.environ.get("BENCH_QUERIES")
    if subset:
        wanted = {s.strip() for s in subset.split(",") if s.strip()}
        queries = {k: v for k, v in queries.items() if k in wanted}

    # BENCH_SKIP_FOILS=1 excludes the registry's foil=True entries (the
    # deliberately-kept quadratic calibration contrasts) via the flag,
    # not a hand list — the sized sf10 runs use this so one foil's
    # 1,800 s / OOM cannot poison the whole-suite session (round-8
    # VERDICT item 3).  Excluded names are recorded in the payload: a
    # silent cap would read as "covered everything".
    from data_pipeline_cursor_spark.registry import get_contrasts, get_foils

    skipped_foils: list[str] = []
    if os.environ.get("BENCH_SKIP_FOILS") == "1":
        # contrast=True entries (output unbounded by semantics, e.g. the
        # key-less stream-stream join) are excluded under the same flag:
        # a sized run can no more afford a definitionally-quadratic
        # output than a quadratic plan (round-10 VERDICT item 4)
        foils = get_foils() | get_contrasts()
        skipped_foils = sorted(k for k in queries if k in foils)
        queries = {k: v for k, v in queries.items() if k not in foils}

    # BENCH_EXCLUDE_STREAMING=1 drops the s_* streaming jobs — sized
    # batch runs measure streaming separately under the RocksDB provider
    # (scripts/stream_scale_run.py), the provider a real deployment
    # runs, so the noop-sink bench numbers stay a batch story.  Excluded
    # names are recorded in the payload, same no-silent-caps rule as the
    # foil flag.
    skipped_streaming: list[str] = []
    if os.environ.get("BENCH_EXCLUDE_STREAMING") == "1":
        skipped_streaming = sorted(k for k in queries if k.startswith("s_"))
        queries = {k: v for k, v in queries.items() if not k.startswith("s_")}

    # Suite-run artifact sharing (BENCH_SHARE_PAIRS, default on): the
    # queries that declare register(..., uses=) read ONE checkpointed copy
    # of each shared dedup artifact instead of rebuilding it (~30-60 s
    # apiece at sf10); hashes are unchanged.
    share_pairs = os.environ.get("BENCH_SHARE_PAIRS", "1") == "1"

    # Warm the JVM + parquet footer cache once so per-query times measure the
    # query, not session start-up.
    from data_pipeline_cursor_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()

    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "2")))
    timings: dict[str, float] = {}
    # name -> one dict of JVM_LAYERS deltas per repeat, so the cold
    # (first) and warm repeats show separately
    jvm_layers: dict[str, list[dict]] = {}
    from data_pipeline_cursor_spark.registry import ArtifactScope

    with ArtifactScope(sorted(queries), share=share_pairs) as scope:
        for name in scope.order:
            best = None
            jvm_layers[name] = []
            with scope.running(name):
                for _ in range(repeats):
                    before = _jvm_counters(jvm)
                    t0 = time.perf_counter()
                    try:
                        df = queries[name](spark, sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                        dt = round(time.perf_counter() - t0, 3)
                        best = dt if best is None else min(best, dt)
                    except Exception as exc:  # record it, keep benching
                        # keep trying the remaining repeats — BENCH_REPEATS
                        # exists BECAUSE the co-tenant host flakes; a query
                        # is failed only when EVERY attempt failed
                        print(f"# bench FAIL {name}: {exc}", file=sys.stderr)
                    after = _jvm_counters(jvm)
                    jvm_layers[name].append({k: after[k] - before[k] for k in JVM_LAYERS})
            timings[name] = -1.0 if best is None else best
    # suite totals of each layer, one dict per repeat
    jvm_totals = [
        {k: sum(r[i][k] for r in jvm_layers.values()) for k in JVM_LAYERS}
        for i in range(repeats)
    ]

    failed = sorted(k for k, t in timings.items() if t < 0)
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Per-query regression check against the last GIT-COMMITTED full
    # record (not the on-disk file this run is about to overwrite — that
    # would let sub-2x regressions ratchet invisibly, round-6 ADVICE),
    # so the verdict line itself carries the 2x clause.  Queries under a
    # 0.1 s floor are excluded from the ratio (pure scheduling noise).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    base_doc, base_src = {}, None
    base_path = os.environ.get("BENCH_BASE")
    if base_path:
        try:
            with open(base_path) as f:
                base_doc = json.load(f)
            base_src = base_path
        except (OSError, ValueError) as exc:
            # the user EXPLICITLY asked for this baseline — losing it
            # silently would disable the 2x gate they requested; warn
            # loudly and fall through to the git-HEAD default
            print(
                f"# bench WARNING: BENCH_BASE={base_path} unreadable "
                f"({exc}); falling back to git:HEAD:BENCH_FULL.json",
                file=sys.stderr,
            )
            base_path = None
    if not base_path:
        try:
            out = subprocess.run(
                ["git", "-C", repo_dir, "show", "HEAD:BENCH_FULL.json"],
                capture_output=True,
                text=True,
                timeout=30,
            )
            if out.returncode == 0:
                base_doc = json.loads(out.stdout)
                base_src = "git:HEAD:BENCH_FULL.json"
        except (OSError, ValueError, subprocess.SubprocessError):
            pass
        if base_src is None:
            # a silently-disabled regression gate looks identical to a
            # clean pass in the verdict line (round-7 ADVICE) — say so
            print(
                "# bench WARNING: no baseline available (git show "
                "HEAD:BENCH_FULL.json failed); 2x regression gate is "
                "DISABLED for this run",
                file=sys.stderr,
            )
    # Like for like: the gate compares only against a baseline recorded
    # on as many cores at the same scale factor; a record without that
    # provenance (or with other values) gates nothing.
    cores = len(os.sched_getaffinity(0))
    base = base_doc.get("queries", {})
    ran_at = (base_doc.get("cores"), base_doc.get("sf"))
    if base_src is not None and ran_at != (cores, sf_dir):
        print(
            f"# bench: {base_src} ran at (cores, sf) = {ran_at}, this run "
            f"at {(cores, sf_dir)}; 2x regression gate skipped",
            file=sys.stderr,
        )
        base, base_src = {}, "no comparable baseline"
    # Per-FAMILY worst movers (round-9 VERDICT item 5): streaming drains
    # carry a trigger/state-commit floor that is load-sensitive in a way
    # batch plans aren't — two rounds running, every >2x flag was a drain
    # while the batch suite got faster at size.  Comparing batch-vs-batch
    # and drains-vs-drains keeps a real batch regression from hiding
    # behind drain noise (and vice versa).
    # Absolute noise floor for the flag (round-13 VERDICT item 7): a
    # sub-second query that doubles is scheduling noise, not a plan
    # regression — r13's committed worst_vs_prev pointed at a 0.63 s foil
    # with no code change.  A query only flags when its CURRENT time is
    # at least this many seconds, so a fast-baseline query regressing to
    # real seconds still surfaces; the sub-0.1 s baseline floor stays.
    WORST_NOISE_FLOOR_SEC = 0.75

    def _worst(names):
        wq, wr = None, 0.0
        for q in names:
            t = timings[q]
            b = base.get(q, -1.0)
            # floor sub-0.1 s baselines at 0.1 instead of skipping them: a
            # fast-baseline query that regresses to seconds must still
            # surface, while two sub-noise-floor times never flag.
            if t >= WORST_NOISE_FLOOR_SEC and b > 0 and t / max(b, 0.1) > wr:
                wq, wr = q, round(t / max(b, 0.1), 2)
        return wq, wr

    stream_names = [q for q in timings if q.startswith("s_")]
    batch_names = [q for q in timings if not q.startswith("s_")]
    worst_q, worst_ratio = _worst(timings)
    worst_batch_q, worst_batch_ratio = _worst(batch_names)
    worst_stream_q, worst_stream_ratio = _worst(stream_names)
    batch_total = round(sum(timings[q] for q in batch_names if timings[q] >= 0), 3)
    stream_total = round(
        sum(timings[q] for q in stream_names if timings[q] >= 0), 3
    )

    payload = {
        "metric": (
            "total wall-clock, all declared queries (noop sink)"
            if not failed
            else f"total wall-clock, {len(failed)} queries FAILED (excluded)"
        ),
        "failed": failed,
        "value": total,
        "repeats": repeats,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "skipped_foils": skipped_foils,
        "skipped_streaming": skipped_streaming,
        "share_pairs": share_pairs,
        "n_queries": len(timings),
        "worst_vs_prev": worst_ratio,
        "worst_query": worst_q,
        "worst_noise_floor_sec": WORST_NOISE_FLOOR_SEC,
        "batch_sec": batch_total,
        "streaming_sec": stream_total,
        "worst_vs_prev_batch": worst_batch_ratio,
        "worst_batch_query": worst_batch_q,
        "worst_vs_prev_streaming": worst_stream_ratio,
        "worst_streaming_query": worst_stream_q,
        "released_artifacts": scope.released,
        "baseline": base_src,
        "cores": cores,
        "master": spark.sparkContext.master,
        "git_sha": _git_sha(repo_dir),
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "codegen_cache_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")
        ),
        "jvm_totals": jvm_totals,
        "jvm": jvm_layers,
    }
    # Persist the COMPLETE payload to a file (BENCH_OUT) — the committed
    # artifact that proves the per-query 2x clause for the whole registry.
    # A BENCH_QUERIES-subset debug run must NEVER silently replace the
    # committed full-registry artifact (round-6 ADVICE): without an
    # explicit BENCH_OUT, subsets write to BENCH_SUBSET.json instead.
    full_path = os.environ.get("BENCH_OUT")
    if full_path is None:
        full_path = os.path.join(
            repo_dir, "BENCH_SUBSET.json" if subset else "BENCH_FULL.json"
        )
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)

    # stdout gets ONE SHORT JSON line (<2 kB): the driver records only a
    # 2 kB stdout tail, so a 231-query dict inline would truncate mid-JSON
    # and parse as null (round-5 VERDICT item 3).  The verdict line keeps
    # the contract fields and trims "queries" to the top-20 slowest; the
    # full dict lives in the artifact named by "full".
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:20]
    )
    line = dict(payload)
    del line["jvm"]  # per-query layers live in the artifact only
    line["queries"] = slowest
    line["queries_note"] = "top-20 slowest; full per-query dict in 'full'"
    # cap the failure list too — a registry-wide breakage (200+ names)
    # would blow the 2 kB tail exactly when the verdict matters most
    line["n_failed"] = len(failed)
    line["failed"] = failed[:10]
    # the skip lists (29 streaming names in a sized run) are counts here
    line["skipped_foils"] = len(skipped_foils)
    line["skipped_streaming"] = len(skipped_streaming)
    line["full"] = os.path.basename(full_path)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
