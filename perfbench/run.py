"""Ingest benchmark: bulk replay and incremental CoW / MoR with recorder lookups.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload through the engine's public API in one process with one
local Spark session, checks every result against a DuckDB oracle, and prints
one JSON line last: the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). ``--scale toy`` shrinks the inputs
for the self-test. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# temp dir of the driver JVM and its Python workers; shared by the runs of one
# JVM, so it outlives each run's work directory
TMP = os.path.join(ROOT, ".perfbench", "tmp")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import Oracle  # noqa: E402

# Event counts are fixed per workload and scale with --seconds, so the parent
# and a change under test always do the same work; the rates are sized so a
# run measures about --seconds on a 4-core box.
SPECS = {
    "bulk_replay": dict(
        mode="bulk", strategy="cow", keys_per_event=0.2, segments=4,
        events_per_second=2_000,
    ),
    # 0.4 batch a second: 8 micro-batches at 20 s, which take the MoR table
    # through its first two compactions (the 4th delta since the last one
    # triggers one), so every run samples the same mix of compaction and
    # backlog states. The batches after the second compaction run ~1.5x
    # slower; with 10 measured batches half of them were of that kind and the
    # median jumped between the two groups from run to run
    "incremental_cow": dict(
        mode="incremental", strategy="cow", preload_events=40_000, keys=10_000,
        batch_events=1_000, batches_per_second=0.4,
    ),
    "incremental_mor": dict(
        mode="incremental", strategy="mor", preload_events=40_000, keys=10_000,
        batch_events=1_000, batches_per_second=0.4,
    ),
}
TOY = dict(events_per_second=1_500, preload_events=3_000, keys=1_000,
           batch_events=200, batches_per_second=1.0)
SETUP_REPS = 3  # input preparations per run; setup_s takes their median
WARMUP_BATCHES = 1  # micro-batches streamed before timing (incremental)
BULK_WARMUP_SEGMENTS = 3  # full-size segments replayed before timing (bulk)
WARMUP_PAGES = 2  # multi-gets after each bulk warm-up segment
NUM_BUCKETS = 16
# keys per recorder multi-get: the reference recorder pages a batch's changed
# keys into _mget requests of 1,000 (BASELINE.md, "mget / PIT scan page size");
# a micro-batch's keys fit one request, a bulk segment's take several
MGET_KEYS = 1_000

END_TO_END = {
    "setup_s": "s", "events_per_s": "events/s", "batch_ms_p50": "ms",
    "batch_ms_p90": "ms", "lookup_ms_p50": "ms", "lookup_ms_p90": "ms",
}


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) <= 1:
        return v[0] if v else 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def bench_cpus() -> int:
    """Spark task threads: half the cores. The JIT compiler threads (busy all
    run long, since every micro-batch brings freshly generated classes), GC
    and the Python driver then run beside the tasks instead of preempting
    them; at local[nproc] a busy neighbour on a shared host slowed a
    micro-batch by about half, at half the cores by about a tenth."""
    return max(1, (os.cpu_count() or 2) // 2)


def sizes(spec: dict, seconds: int, toy: bool) -> dict:
    s = {**spec, **({k: v for k, v in TOY.items() if k in spec} if toy else {})}
    if s["mode"] == "bulk":
        s["events"] = int(s["events_per_second"] * seconds)
        s["keys"] = max(100, int(s["events"] * s["keys_per_event"]))
    else:
        s["batches"] = max(4, round(s["batches_per_second"] * seconds))
    return s


# ---------------------------------------------------------------- controls


def calibrate(spark) -> dict:
    """Host control: a fixed CPU-bound Spark job and a memory-bandwidth scan.
    Neither touches the engine, so a shift in them between runs is the host."""
    import numpy as np

    cpu = []
    for rep in range(3):  # the first pass warms the code path and is not kept
        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr(
            "max(xxhash64(id, id * 7, 'calibrate'))").collect()
        if rep:
            cpu.append((time.perf_counter() - t) * 1000)
    buf = np.ones(8_000_000)  # 64 MB
    t = time.perf_counter()
    for _ in range(8):
        buf.sum()
    mem_gbps = 8 * buf.nbytes / (time.perf_counter() - t) / 1e9
    return {"cpu_job_ms": statistics.median(cpu), "mem_scan_gbps": mem_gbps}


def host_counters(spark) -> dict:
    """Cumulative CPU steal (from /proc/stat) and the driver JVM's GC and JIT
    compile time: differenced over the measured section, they say whether a
    slow run lost its CPU to the host or to the JVM's own background work."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "cpu_jiffies": sum(cpu[:8]), "steal_jiffies": cpu[7],
        "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Jobs:
    """Spark jobs, stages and tasks of one operation, read from statusTracker
    by diffing the job ids of the operation's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def ids(self, group: str | None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def summarize(self, job_ids: set[int]) -> dict:
        stages = tasks = failed = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


# ---------------------------------------------------------------- engine


def target_schema():
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    return StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), True), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ])


def make_pipeline(spark, root: str, strategy: str):
    from concepts_pipeline_spark.cdc.apply import CdcPipeline

    extra = (dict(strategy="mor", auto_compact_max_deltas=4, auto_compact_mode="tiered")
             if strategy == "mor" else {})
    return CdcPipeline(
        spark, f"{root}/tokens", target_schema(), ["doc_id"],
        quarantine_path=f"{root}/quarantine", lineage_path=f"{root}/lineage",
        num_buckets=NUM_BUCKETS, **extra,
    )


def read_feed(spark, path: str):
    from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA

    return spark.read.schema(CHANGE_LOG_SCHEMA).parquet(f"file://{path}")


def keys_df(spark, keys):
    import pyarrow as pa

    return spark.createDataFrame(pa.table({"doc_id": keys}))


def lookup(spark, pipe, keys):
    """One recorder multi-get: the live rows of ``keys`` (an Arrow array of
    at most MGET_KEYS doc ids), fetched to the driver (MultiGetFlow's role)."""
    from pyspark.sql import functions as F

    from concepts_pipeline_spark.lake import merge as lake_merge

    df = lake_merge.read_for_keys_df(spark, pipe.target, keys_df(spark, keys))
    live = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return live.select("doc_id", "tokens", "n_tok", "source").toArrow()


def pages(keys) -> list:
    """A batch's distinct keys, in first-seen order, in MGET_KEYS pages."""
    return [keys[i:i + MGET_KEYS] for i in range(0, len(keys), MGET_KEYS)]


def admitted_files(ckpt: str) -> dict[int, list[str]]:
    """Files each micro-batch read, from the stream checkpoint's source log
    (a compacted log file repeats the entries of the batches before it)."""
    out: dict[int, set[str]] = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(names) for b, names in out.items()}


# ---------------------------------------------------------------- workloads


class Run:
    def __init__(self, args, spec: dict, work: str) -> None:
        self.args, self.spec, self.work = args, spec, work
        self.trace = None
        self.samples: dict[str, list] = {"batch_ms": [], "lookup_ms": [], "gap_ms": []}
        self.ops: list[dict] = []  # one per attempted operation
        self.lookups: list[tuple] = []  # (files before it, keys, rows, ops)
        self.per_batch: list[dict] = []  # job counts etc. per measured op
        self.detail: dict = {}
        self.t_measure = self.counters = None  # set when timing starts
        self.warm_s = 0.0  # incremental: stream start to the end of its warm-up

    # -- set-up ---------------------------------------------------------

    def prepare(self, spark, rep: int) -> dict:
        """Generate and land one fresh copy of the inputs."""
        s, seed = self.spec, self.args.seed
        d = os.path.join(self.work, f"rep{rep}")
        if s["mode"] == "bulk":
            segs = gen.generate(seed, 0, s["events"], s["keys"], s["segments"])
            return {"dir": d, "tables": segs, "files": gen.land(segs, f"{d}/wal"),
                    "pipe": make_pipeline(spark, f"{d}/table", "cow")}
        pre = gen.generate(seed, 0, s["preload_events"], s["keys"], 1)
        n = WARMUP_BATCHES + s["batches"]
        feed = gen.generate(seed, 1, n * s["batch_events"], s["keys"], n,
                            lsn_base=3 * s["preload_events"] + 3)
        # warm-up micro-batches first: one stream tails them and then the
        # measured ones, so the measured batches run in a stream already going
        return {"dir": d, "tables": pre + feed,
                "files": gen.land(feed, f"{d}/feed", mtime0=time.time() - 10_000),
                "pipe": make_pipeline(spark, f"{d}/table", s["strategy"]),
                "history": gen.land(pre, f"{d}/preload")}

    def warm_up(self, spark, st: dict) -> None:
        """Bulk: replay BULK_WARMUP_SEGMENTS full-size segments into a scratch
        table before timing (JIT, caches). Incremental: pre-load the table;
        the warm-up micro-batches are the first ones of the measured stream."""
        d = st["dir"]
        if self.spec["mode"] == "bulk":
            # full-size segments: a small one leaves the JIT cold for the
            # large-batch code paths (measured segments kept getting faster);
            # the lookup path warms within a few multi-gets
            s = self.spec
            n = s["events"] // s["segments"]
            pipe = make_pipeline(spark, f"{d}/warm_table", "cow")
            warm = gen.generate(self.args.seed, 9, BULK_WARMUP_SEGMENTS * n, s["keys"],
                                BULK_WARMUP_SEGMENTS)
            for k, f in enumerate(gen.land(warm, f"{d}/warm")):
                pipe.apply_batch(read_feed(spark, f), fence_token=f"warm-{k}")
                for page in pages(warm[k].column("doc_id").unique())[:WARMUP_PAGES]:
                    lookup(spark, pipe, page)
        else:
            st["pipe"].apply_batch(read_feed(spark, st["history"][0]), fence_token="preload")

    def start_measuring(self, spark) -> None:
        self.t_measure = time.perf_counter()
        self.counters = host_counters(spark)

    # -- measured operations --------------------------------------------

    def bulk(self, spark, st: dict) -> float:
        """Replay the WAL segments; after each commit the recorder looks up
        the segment's distinct keys. Returns the replay wall seconds minus
        the time spent in lookups."""
        pipe, jobs = st["pipe"], Jobs(spark)
        lookup_s = 0.0
        self.start_measuring(spark)
        t = self.t_measure
        for k, f in enumerate(st["files"]):
            tid = f"segment-{k}"
            if self.trace:
                self.trace.trace_id = tid
            spark.sparkContext.setJobGroup(f"perfbench:{tid}", tid)
            op = {"op": "apply", "id": tid}
            t0 = time.perf_counter()
            try:
                pipe.apply_batch(read_feed(spark, f), fence_token=tid)
                op["ok"] = True
            except Exception as e:  # an operation that raises counts as failed
                op.update(ok=False, error=repr(e))
            t1 = time.perf_counter()
            if self.trace:
                self.per_batch.append({"id": tid, **jobs.summarize(
                    jobs.ids(f"perfbench:{tid}"))})
            self.ops.append(op)
            self.samples["batch_ms"].append((t1 - t0) * 1000)
            self.timed_lookup(spark, pipe, st["tables"][k], st["files"][: k + 1], tid)
            lookup_s += time.perf_counter() - t1
        wall = time.perf_counter() - t
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return wall - lookup_s

    def timed_lookup(self, spark, pipe, batch, history: list[str], tid: str) -> None:
        """The recorder's lookup of a batch's distinct keys; each multi-get
        is one timed lookup."""
        import pyarrow as pa

        keys = batch.column("doc_id").unique()
        got, ops = [], []
        for i, page in enumerate(pages(keys)):
            op = {"op": "lookup", "id": f"{tid}/{i}"}
            t0 = time.perf_counter()
            try:
                if self.trace:
                    with self.trace.span("recorder.lookup"):
                        got.append(lookup(spark, pipe, page))
                else:
                    got.append(lookup(spark, pipe, page))
                op["ok"] = True
            except Exception as e:  # a lookup that raises counts as failed
                op.update(ok=False, error=repr(e))
            self.samples["lookup_ms"].append((time.perf_counter() - t0) * 1000)
            self.ops.append(op)
            ops.append(op)
        if all(op["ok"] for op in ops):
            self.lookups.append((list(history), keys, pa.concat_tables(got), ops))
        if self.trace:
            m = pipe.target.manifest()
            from concepts_pipeline_spark.lake.table import bucket_expr

            buckets = {r[0] for r in keys_df(spark, keys).select(
                bucket_expr(["doc_id"], m.num_buckets)).distinct().collect()}
            self.per_batch[-1].update(
                delta_files=sum(f.kind == "delta" for f in m.files),
                lookup_files=sum(f.bucket in buckets or f.bucket == -1 for f in m.files),
            )

    def stream(self, spark, st: dict) -> float:
        """Tail the feed with run_stream; after each commit the recorder looks
        up the micro-batch's distinct keys. The first WARMUP_BATCHES are
        warm-up: applied and looked up, not timed. Returns the wall seconds
        of the measured micro-batches minus the time spent in the lookup hook."""
        from pyspark.errors import StreamingQueryException

        from concepts_pipeline_spark.streaming import run_stream

        pipe, files, batches = st["pipe"], st["files"], st["tables"][1:]
        jobs = Jobs(spark)
        marks: dict = {}
        hook_s = [0.0]
        last_end = [None]

        def on_batch(bid, df):
            marks[bid] = {"t0": time.perf_counter(), "group": jobs.group()}
            if bid < WARMUP_BATCHES:
                if self.trace:
                    self.trace.trace_id = f"warm-{bid}"
                return
            self.samples["gap_ms"].append((marks[bid]["t0"] - last_end[0]) * 1000)
            if self.trace:
                self.trace.trace_id = f"batch-{bid}"
                marks[bid]["jobs0"] = jobs.ids(marks[bid]["group"])

        def after_batch(bid, res):
            m = marks[bid]
            t1 = time.perf_counter()
            if bid < WARMUP_BATCHES:  # warm-up: run the lookup path too, untimed
                for page in pages(batches[bid].column("doc_id").unique()):
                    lookup(spark, pipe, page)
                if bid == WARMUP_BATCHES - 1:
                    self.start_measuring(spark)
                    last_end[0] = self.t_measure
                return
            self.samples["batch_ms"].append((t1 - m["t0"]) * 1000)
            self.ops.append({"op": "apply", "id": f"batch-{bid}", "ok": True})
            if self.trace:
                self.per_batch.append({"id": f"batch-{bid}", **jobs.summarize(
                    jobs.ids(m["group"]) - m["jobs0"])})
            self.timed_lookup(spark, pipe, batches[bid],
                              st["history"] + files[: bid + 1], f"batch-{bid}")
            t2 = time.perf_counter()
            hook_s[0] += t2 - t1
            last_end[0] = t2

        t = time.perf_counter()
        h = run_stream(spark, pipe, f"{st['dir']}/feed", f"{st['dir']}/ckpt",
                       name="perfbench", on_batch=on_batch, after_batch=after_batch)
        try:
            h.await_done()
        except StreamingQueryException as e:
            self.detail["stream_error"] = str(e)[:500]  # the rest count as not applied
        finally:
            h.stop()
        self.warm_s = (self.t_measure if self.t_measure else time.perf_counter()) - t
        admitted = admitted_files(f"{st['dir']}/ckpt")
        for op in self.ops:
            bid = int(op["id"].split("-")[1]) if op["op"] == "apply" else None
            if bid is not None and admitted.get(bid) != [os.path.basename(files[bid])]:
                op.update(ok=False, error=f"micro-batch {bid} read {admitted.get(bid)}")
        done = {op["id"] for op in self.ops if op["op"] == "apply"}
        self.ops += [{"op": "apply", "id": f"batch-{i}", "ok": False, "error": "not applied"}
                     for i in range(WARMUP_BATCHES, len(files)) if f"batch-{i}" not in done]
        if last_end[0] is None or self.t_measure is None:
            return 0.0
        return last_end[0] - self.t_measure - hook_s[0]

    # -- gate -----------------------------------------------------------

    def check(self, spark, st: dict, oracle: Oracle) -> list[str]:
        """Oracle gate; returns the list of failures (empty when correct)."""
        errors = []
        history = st.get("history", []) + st["files"]
        want = gen.digest(st["tables"])
        got = oracle.digest(history)
        if want != got:
            errors.append(f"input digest {got} != generated {want}")
        self.detail["input_digest"] = want
        for hist, keys, res, ops in self.lookups:
            # the multi-gets of one batch together must return exactly the
            # oracle's rows for the batch's keys
            if oracle.mismatches(res, hist, keys) != 0:
                for op in ops:
                    op.update(ok=False, error="lookup disagrees with oracle")
                errors.append(f"lookups {ops[0]['id']}.. disagree with the oracle")
        final = st["pipe"].final_state().toArrow()
        n = oracle.mismatches(final, history)
        if n:
            errors.append(f"final table: {n} rows in the symmetric difference")
        q = st["pipe"].quarantine.read(spark).count()
        want_q = oracle.rejects(history)
        if q != want_q:
            errors.append(f"quarantine rows {q} != oracle rejects {want_q}")
        self.detail.update(final_rows=final.num_rows, quarantined=q)
        if n or q != want_q:
            # the table state is what the apply operations produced
            self.ops.append({"op": "final_state", "ok": False})
        return errors


# ---------------------------------------------------------------- per layer


def layer_metrics(run: Run, tracer) -> dict:
    """Per-layer metrics from the traced run's spans (per-batch medians, counts
    as run totals unless named per batch)."""
    spans = tracer.spans
    measured = {b["id"] for b in run.per_batch}
    per = {k: [] for k in (
        "batch", "self", "validate", "lineage", "merge", "merge_self", "compact",
        "write", "commit", "manifest", "bytes_per_event", "touched_buckets",
        "touched_files")}
    tot = dict(rows_in=0, quarantined=0, applied=0, carried=0, source_rows=0,
               bytes=0, files=0, commits=0, conflicts=0, manifest_reads=0,
               compactions=0)
    coverage = []
    for i, s in enumerate(spans):
        if s.name != "cdc.apply.batch" or s.trace_id not in measured:
            continue
        kids = [spans[c] for c in tracer.children(i)]
        sub = [spans[c] for c in tracer.descendants(i)]
        self_ms = tracer.self_ms(i)
        coverage.append((self_ms + sum(k.ms for k in kids)) / s.ms)
        per["batch"].append(s.ms)
        per["self"].append(self_ms)
        per["validate"].append(sum(k.ms for k in kids if k.name == "lake.table.append"))
        per["lineage"].append(sum(k.ms for k in kids if k.name == "lake.table.append_rows"))
        merge = [c for c in tracer.children(i) if spans[c].name == "lake.merge.merge"]
        per["merge"].append(sum(spans[c].ms for c in merge))
        per["merge_self"].append(sum(tracer.self_ms(c) for c in merge))
        compact = [k for k in kids if k.name == "lake.merge.compact"]
        per["compact"].append(sum(k.ms for k in compact))
        tot["compactions"] += sum(bool(k.attrs.get("did_work")) for k in compact)
        writes = [x for x in sub if x.name == "lake.table.write"]
        per["write"].append(sum(x.ms for x in writes if "lake.table.append" not in
                                tracer.ancestors(x)))
        commits = [x for x in sub if x.name == "lake.table.commit"]
        per["commit"].append(sum(x.ms for x in commits))
        manifests = [x for x in sub if x.name == "lake.table.manifest"]
        per["manifest"].append(sum(x.ms for x in manifests))
        rows_in = s.attrs.get("rows_in", 0)
        nbytes = sum(x.attrs.get("bytes", 0) for x in writes)
        per["bytes_per_event"].append(nbytes / max(rows_in, 1))
        for c in merge:
            a = spans[c].attrs
            per["touched_buckets"].append(a.get("touched_buckets", 0))
            per["touched_files"].append(a.get("touched_files", 0))
            tot["applied"] += a.get("applied", 0)
            tot["carried"] += a.get("carried", 0)
            tot["source_rows"] += (a.get("applied", 0) + a.get("noop", 0)
                                   + a.get("stale", 0) + a.get("delete_missing", 0))
        tot["rows_in"] += rows_in
        tot["quarantined"] += s.attrs.get("quarantined", 0)
        tot["bytes"] += nbytes
        tot["files"] += sum(x.attrs.get("files", 0) for x in writes)
        tot["commits"] += len(commits)
        tot["conflicts"] += sum(x.attrs.get("error") == "CommitConflict" for x in commits)
        tot["manifest_reads"] += len(manifests)
    run.detail["apply_span_coverage"] = [min(coverage), max(coverage)]
    run.detail["jobs_per_batch"] = [b["jobs"] for b in run.per_batch]

    def med(k):
        return statistics.median(per[k]) if per[k] else 0.0

    pb = run.per_batch
    valid = tot["rows_in"] - tot["quarantined"]
    return {
        "cdc.apply.batch_ms": (med("batch"), "ms"),
        "cdc.apply.self_ms": (med("self"), "ms"),
        "cdc.apply.validate_ms": (med("validate"), "ms"),
        "cdc.apply.lineage_ms": (med("lineage"), "ms"),
        "cdc.apply.rows_in": (tot["rows_in"], "count"),
        "cdc.apply.quarantined": (tot["quarantined"], "count"),
        "operators.lww.fold_ratio": (tot["source_rows"] / max(valid, 1), "ratio"),
        "lake.merge.merge_ms": (med("merge"), "ms"),
        "lake.merge.self_ms": (med("merge_self"), "ms"),
        "lake.merge.touched_buckets": (med("touched_buckets"), "count"),
        "lake.merge.touched_files": (med("touched_files"), "count"),
        "lake.merge.useful_row_ratio": (
            tot["applied"] / max(tot["applied"] + tot["carried"], 1), "ratio"),
        "lake.merge.compact_ms": (med("compact"), "ms"),
        "lake.merge.compactions": (tot["compactions"], "count"),
        "lake.merge.lookup_files": (
            statistics.median([b.get("lookup_files", 0) for b in pb]), "count"),
        "lake.table.write_ms": (med("write"), "ms"),
        "lake.table.bytes_per_event": (med("bytes_per_event"), "bytes/event"),
        "lake.table.bytes_written": (tot["bytes"], "bytes"),
        "lake.table.files_written": (tot["files"], "count"),
        "lake.table.commit_ms": (med("commit"), "ms"),
        "lake.table.manifest_ms": (med("manifest"), "ms"),
        "lake.table.commits": (tot["commits"], "count"),
        "lake.table.commit_conflicts": (tot["conflicts"], "count"),
        "lake.table.manifest_reads": (tot["manifest_reads"], "count"),
        "lake.table.delta_files": (pb[-1].get("delta_files", 0) if pb else 0, "count"),
        "streaming.runner.overhead_ms": (
            statistics.median(run.samples["gap_ms"]) if run.samples["gap_ms"] else 0.0,
            "ms"),
        "spark.jobs_per_batch": (statistics.median([b["jobs"] for b in pb]), "count"),
        "spark.stages_per_batch": (statistics.median([b["stages"] for b in pb]), "count"),
        "spark.tasks_per_batch": (statistics.median([b["tasks"] for b in pb]), "count"),
        "spark.failed_tasks": (sum(b["failed_tasks"] for b in pb), "count"),
    }


def local1_baseline(spark, run: Run, st: dict) -> float:
    """bulk_replay's apply loop on a fresh local[1] session: events/s."""
    from concepts_pipeline_spark.session import get_spark

    spark.stop()
    spark = get_spark(cpus=1, extra_conf=session_conf(run.work))
    pipe = make_pipeline(spark, os.path.join(run.work, "local1"), "cow")
    elapsed = 0.0
    for k, f in enumerate(st["files"]):
        t = time.perf_counter()
        pipe.apply_batch(read_feed(spark, f), fence_token=f"local1:{k}")
        elapsed += time.perf_counter() - t
    spark.stop()
    return sum(t.num_rows for t in st["tables"]) / elapsed


def stop_jvm() -> None:
    """Stop the Spark driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def session_conf(work: str) -> dict:
    """Where the session writes; the driver memory, the JIT and every Spark
    setting stay the engine's own."""
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
    }


# ---------------------------------------------------------------- main


def main(argv=None, own_jvm: bool = False) -> int:
    """Run one workload; ``own_jvm`` also stops the Spark JVM at the end
    (the command line does; an in-process caller keeps it for its next run)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "concepts_pipeline_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = sizes(SPECS[args.workload], args.seconds, args.scale == "toy")
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    try:
        return measure(args, spec, work)
    finally:
        if own_jvm:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str) -> int:
    from concepts_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=bench_cpus(), extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    session_s = time.perf_counter() - t0

    run = Run(args, spec, work)
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        st = run.prepare(spark, rep)
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    run.warm_up(spark, st)
    warm_s = time.perf_counter() - t

    tracer = undo = None
    if args.trace:
        from spans import Tracer, instrument

        tracer = run.trace = Tracer()
        undo = instrument(tracer)
    phases = {"session": session_s, "prepare": sum(reps), "warm_up": warm_s}
    t = time.perf_counter()
    control_start = calibrate(spark)
    phases["control"] = time.perf_counter() - t
    t = time.perf_counter()
    if spec["mode"] == "bulk":
        events, seconds = sum(t.num_rows for t in st["tables"]), run.bulk(spark, st)
    else:
        events = sum(t.num_rows for t in st["tables"][1 + WARMUP_BATCHES:])
        seconds = run.stream(spark, st)
        warm_s += run.warm_s  # the stream's start and its warm-up micro-batches
    eps = events / seconds if seconds > 0 else 0.0
    setup_s = session_s + statistics.median(reps) + warm_s
    counters = run.counters or host_counters(spark)
    counters = {k: v - counters[k] for k, v in host_counters(spark).items()}
    phases["run"] = time.perf_counter() - t
    t = time.perf_counter()
    control_end = calibrate(spark)
    phases["control"] += time.perf_counter() - t
    if undo:
        for u in undo:
            u()

    t = time.perf_counter()
    oracle = Oracle()
    try:
        errors = run.check(spark, st, oracle)
    finally:
        oracle.close()
    phases["gate"] = time.perf_counter() - t
    failed = sum(not o["ok"] for o in run.ops)
    attempted = len(run.ops)
    s = run.samples
    run.detail.update(
        workload=args.workload, seed=args.seed, sizes={k: v for k, v in spec.items()
                                                       if isinstance(v, (int, float))},
        samples={"batch": len(s["batch_ms"]), "lookup": len(s["lookup_ms"])},
        batch_ms=[round(x) for x in s["batch_ms"]],
        lookup_ms=[round(x) for x in s["lookup_ms"]],
        session_s=session_s, setup_reps_s=reps, warm_up_s=warm_s, phases_s=phases,
        control={"start": control_start, "end": control_end,
                 "steal_pct": 100 * counters["steal_jiffies"] / max(counters["cpu_jiffies"], 1),
                 "gc_ms": counters["gc_ms"], "jit_ms": counters["jit_ms"]},
        op_failure_frac=failed / attempted,
    )

    values = {  # 0 where a failed run has no samples
        "setup_s": setup_s,
        "events_per_s": eps,
        "batch_ms_p50": pct(s["batch_ms"], 50),
        "batch_ms_p90": pct(s["batch_ms"], 90),
        "lookup_ms_p50": pct(s["lookup_ms"], 50),
        "lookup_ms_p90": pct(s["lookup_ms"], 90),
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    if args.trace:
        # the traced run's end-to-end numbers minus an untraced run's are
        # the tracing overhead
        run.detail["end_to_end"] = values
        layers = layer_metrics(run, tracer)
        lo, hi = run.detail["apply_span_coverage"]
        if not 0.999 <= lo <= hi <= 1.001:
            errors.append(f"self time plus child spans cover {lo:.4f}..{hi:.4f} "
                          "of cdc.apply.batch")
        layers["session.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
        layers["op_failure_frac"] = (failed / attempted, "ratio")
        layers["control.cpu_job_ms"] = (
            (control_start["cpu_job_ms"] + control_end["cpu_job_ms"]) / 2, "ms")
        layers["control.mem_scan_gbps"] = (
            (control_start["mem_scan_gbps"] + control_end["mem_scan_gbps"]) / 2, "GB/s")
        layers["control.steal_pct"] = (run.detail["control"]["steal_pct"], "%")
        layers["session.gc_ms"] = (counters["gc_ms"], "ms")
        layers["session.jit_ms"] = (counters["jit_ms"], "ms")
        eps1 = local1_baseline(spark, run, st) if spec["mode"] == "bulk" else 0.0
        layers["bulk.local1_events_per_s"] = (eps1, "events/s")
        layers["bulk.parallel_efficiency"] = (
            eps / (bench_cpus() * eps1) if eps1 else 0.0, "ratio")
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    spark.stop()

    correct = not errors and failed == 0
    run.detail["errors"] = errors[:5] + [o for o in run.ops if not o["ok"]][:5]
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(own_jvm=True))
