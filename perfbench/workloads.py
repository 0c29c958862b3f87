"""The two closed-loop workloads. One client drives the engine's public
functions; every call into a layer is timed from outside.

Each workload is a fixed number of operations (derived from ``--seconds``
by a fixed nominal cost per operation, never from a clock), preceded by a
fixed warm-up count that is charged to ``setup_s``.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators import incremental, serving
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.streaming import pipeline
from sensor_data_pipeline___spark.warehouse import BRONZE, GOLD, SILVER, Warehouse

import gen
import measure


class Run:
    """State shared by one workload run: session, warehouse, model,
    operation tallies and the tracer."""

    def __init__(self, spark, work: str, seed: int, trace: bool):
        self.spark = spark
        self.work = work
        self.rng = random.Random(seed)
        self.wh = Warehouse(spark, os.path.join(work, "wh"))
        self.model = gen.Expected()
        self.tracer = measure.Tracer(spark, trace)
        self.attempted = 0
        self.failed = 0
        self.input_bytes = 0
        self.reads: list[float] = []
        #: input bytes of the write unit the next pipeline run processes
        self.new_bytes = 0

    def op(self, name: str, fn, *args):
        """Run one operation; an exception or a failed check (``fn``
        returning False) counts it as failed. Returns (ok, result)."""
        self.attempted += 1
        try:
            result = fn(*args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return False, None
        if result is False:
            print(f"perfbench: check failed in {name}", file=sys.stderr)
            self.failed += 1
            return False, None
        return True, result

    def get(self, first: int, last: int) -> bool:
        """``GET /data?from=first&to=last``, timed and checked."""
        tr = self.tracer
        with tr.group("serving"):
            t0 = time.perf_counter()
            silver, gold = self.wh.read(SILVER), self.wh.read(GOLD)
            t1 = time.perf_counter()
            df = serving.to_wire_format(
                serving.readings_by_date_range(
                    silver, gold, gen.iso(first), gen.iso(last)
                )
            )
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        self.reads.append(t3 - t0)
        tr.add("serving.build_ms", (t2 - t1) * 1e3)
        tr.add("serving.fetch_ms", (t3 - t2) * 1e3)
        tr.count("serving.rows_per_read", len(rows))
        return self.check_get(rows, first, last)

    def check_get(self, rows, first: int, last: int) -> bool:
        want = self.model.get_rows(first, last)
        if len(rows) != want:
            print(f"perfbench: GET {first}..{last} {len(rows)} rows, want {want}",
                  file=sys.stderr)
            return False
        for r in rows:
            if r["name"] != "Power":
                continue
            exp = self.model.gold(gen.epoch_day(r["time"][:10]))
            if exp is None or abs(r["value"] - exp) > 1e-9 * abs(exp):
                print(f"perfbench: gold {r['time']} = {r['value']}, want {exp}",
                      file=sys.stderr)
                return False
        return True

    def shim_layers(self) -> None:
        """Traced run only: timing shims on the layer entry points."""
        tr, wh = self.tracer, self.wh
        state = {}

        def around_pipeline():
            state["silver"] = measure.partition_files(wh.path(SILVER))
            state["gold"] = measure.partition_files(wh.path(GOLD))

            def after():
                silver = measure.partition_files(wh.path(SILVER))
                gold = measure.partition_files(wh.path(GOLD))
                before = state["silver"]
                rewritten = sum(
                    b for part, files in silver.items()
                    if files != before.get(part) for _f, b in files
                )
                tr.add("incremental.silver_rewrite_bytes_per_new_byte",
                       rewritten / self.new_bytes)
                tr.count("incremental.gold_days_per_run", sum(
                    1 for part, files in gold.items() if files != state["gold"].get(part)
                ))

            return after

        tr.shim(incremental, "run_pipeline", "incremental.run_pipeline_ms",
                around_pipeline)
        tr.shim(incremental, "run_silver", "incremental.run_silver_ms")
        tr.shim(incremental, "run_gold", "incremental.run_gold_ms")
        tr.shim(Warehouse, "read", "warehouse.read_ms")
        tr.shim(Warehouse, "write", "warehouse.write_ms")

    def table_files(self) -> dict[str, int]:
        return {
            name: sum(n for n, _b in self.wh.file_stats(t).values())
            for name, t in (("bronze", BRONZE), ("silver", SILVER), ("gold", GOLD))
        }

    def stored_ratio(self) -> float:
        stored = sum(
            b for t in (BRONZE, SILVER, GOLD) for _n, b in self.wh.file_stats(t).values()
        )
        return stored / self.input_bytes


# --- post_hourly -------------------------------------------------------------


def post_hourly(run: Run, seconds: int, t_start: float) -> dict:
    spark, wh, tr, rng = run.spark, run.wh, run.tracer, run.rng
    history, cycles = gen.post_hourly_inputs(rng, seconds)

    def post(b: gen.Batch) -> bool:
        t0 = time.perf_counter()
        bronze, res = ingest.ingest_batch(spark, b.lines)
        t1 = time.perf_counter()
        off = wh.max_id(BRONZE)
        t2 = time.perf_counter()
        wh.append(BRONZE, bronze.withColumn("id", F.col("id") + off))
        t3 = time.perf_counter()
        tr.add("ingest.ingest_batch_ms", (t1 - t0) * 1e3)
        tr.add("warehouse.max_id_ms", (t2 - t1) * 1e3)
        tr.add("warehouse.append_ms", (t3 - t2) * 1e3)
        b.feed(run.model)
        run.input_bytes += b.nbytes()
        return res.accepted == b.accepted()

    def hourly(new_rows: int, new_days: set[int]) -> bool:
        n_silver, n_gold = incremental.run_pipeline(wh)
        want_gold = sum(run.model.gold(d) is not None for d in new_days)
        return (n_silver, n_gold) == (new_rows, want_gold)

    def silver_days(bs: list[gen.Batch]) -> tuple[int, set[int]]:
        kept = [dm for b in bs for dm in b.silver()]
        return len(kept), {d for d, _m in kept}

    run.op("post", post, history)
    run.op("pipeline", hourly, *silver_days([history]))
    if tr.enabled:
        run.shim_layers()

    writes, posts_s, pipes_s, fresh, cycle_s, traced = [], [], [], [], [], []
    accepted = 0
    for c, (posts, (w_first, w_last)) in enumerate(cycles):
        k = c - gen.WARMUP_CYCLES
        measured = k >= 0
        if k == 0:
            setup_s = time.perf_counter() - t_start
            reads_before = len(run.reads)
            host = measure.HostRecord(spark)
            host.start()
            cpu0 = measure.tree_cpu_s(run.jvm_pid)
            tr.reset()
        if tr.enabled and measured:
            tr.active = measure.traced_slot(k)
        run.new_bytes = sum(b.nbytes() for b in posts)
        t0 = time.perf_counter()
        with tr.group("batch"):
            post_s = 0.0
            for b in posts:
                tp = time.perf_counter()
                run.op("post", post, b)
                dt = time.perf_counter() - tp
                post_s += dt
                if measured:
                    posts_s.append(dt)
            tp = time.perf_counter()
            run.op("pipeline", hourly, *silver_days(posts))
            pipe_s = time.perf_counter() - tp
        t1 = time.perf_counter()
        # the live day and every day a late line can reach, whichever
        # late days the seed picked
        last = max(b.span()[1] for b in posts)
        run.op("get", run.get, last - gen.LATE_DAYS, last)
        t2 = time.perf_counter()
        run.op("get", run.get, w_first, w_last)
        t3 = time.perf_counter()
        if measured:
            cycle_s.append(t3 - t0)
            traced.append(tr.active)
            writes.append(t1 - t0)
            pipes_s.append(pipe_s)
            fresh.append(t2 - t0)
            accepted += sum(b.accepted() for b in posts)
            tr.add("batch.gate_bronze_ms", post_s * 1e3)
            tr.add("batch.run_pipeline_ms", pipe_s * 1e3)
            tr.add("batch.overhead_ms", (t1 - t0 - post_s - pipe_s) * 1e3)
    cpu1 = measure.tree_cpu_s(run.jvm_pid)
    host.stop()
    tr.unshim()
    reads = run.reads[reads_before:]
    return {
        "setup_s": setup_s,
        "write_s": writes,
        "read_s": reads,
        "freshness_s": fresh,
        "rows": accepted,
        "write_total_s": sum(writes),
        "cpu_s": cpu1 - cpu0,
        "host": host,
        "op_s": cycle_s,
        "traced": traced,
        "detail": {"post_ms_p50": measure.median(posts_s) * 1e3,
                   "pipeline_ms_p50": measure.median(pipes_s) * 1e3,
                   "cycles": len(writes), "gets": len(reads),
                   "write_ms": [w * 1e3 for w in writes]},
    }


# --- stream_drop -------------------------------------------------------------


def trace_batches(run: Run, batches: list[gen.Batch]) -> list[bool]:
    """Traced run only: make each measured micro-batch traced or untraced.
    The first, which also pays the query's start-up and is left out of
    the timings, is traced; the rest follow :func:`measure.traced_slot`.
    Returns the list the flags are appended to, one per micro-batch, as
    they run."""
    tr, traced = run.tracer, []
    orig = pipeline._ingest_batch_fn

    def batch_fn(*args):
        body = orig(*args)

        def process(df, batch_id):
            k = len(traced)
            tr.active = k == 0 or measure.traced_slot(k - 1)
            traced.append(tr.active)
            run.new_bytes = batches[k].nbytes()
            body(df, batch_id)

        return process

    tr.replace(pipeline, "_ingest_batch_fn", batch_fn)
    return traced


def stream_drop(run: Run, seconds: int, t_start: float) -> dict:
    spark, wh, tr, rng = run.spark, run.wh, run.tracer, run.rng
    batches, windows = gen.stream_drop_inputs(rng, seconds)
    staged = os.path.join(run.work, "staged")
    drop = os.path.join(run.work, "drop")
    ckpt = os.path.join(run.work, "checkpoint")
    os.makedirs(staged)
    os.makedirs(drop)
    files = []
    for i, b in enumerate(batches):
        path = os.path.join(staged, f"part-{i:05d}.txt")
        with open(path, "wb") as f:
            f.write(b.text())
        files.append((path, b))

    def drain(chunk) -> tuple[object, float]:
        for path, b in chunk:
            os.rename(path, os.path.join(drop, os.path.basename(path)))
            b.feed(run.model)
            run.input_bytes += b.nbytes()
        lines = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(drop)
        )
        t0 = time.perf_counter()
        q = pipeline.ingest_stream(spark, drop, wh, ckpt, lines=lines)
        q.awaitTermination()
        dt = time.perf_counter() - t0
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if q.exception() is not None or len(batches) != len(chunk):
            return False
        return q, dt, batches

    run.op("drain", drain, files[:gen.WARMUP_FILES])
    measured = files[gen.WARMUP_FILES:]
    traced = [False] * len(measured)
    if tr.enabled:
        run.shim_layers()
        traced = trace_batches(run, [b for _p, b in measured])
    setup_s = time.perf_counter() - t_start
    host = measure.HostRecord(spark)
    host.start()
    cpu0 = measure.tree_cpu_s(run.jvm_pid)
    tr.reset()
    m0 = time.perf_counter()
    ok, res = run.op("drain", drain, measured)
    tr.active = tr.enabled
    q, write_s, batches = res if ok else (None, float("nan"), [])
    run.attempted += len(measured) - 1  # one operation per micro-batch
    if not ok:
        run.failed += len(measured) - 1
    span_first = min(b.span()[0] for _p, b in files)
    span_last = max(b.span()[1] for _p, b in files)
    run.op("get", run.get, span_first, span_last)
    fresh = time.perf_counter() - m0
    for first, last in windows:
        run.op("get", run.get, first, last)
    cpu1 = measure.tree_cpu_s(run.jvm_pid)
    host.stop()

    def final_state() -> bool:
        silver = wh.read(SILVER).count()
        ids = wh.read(BRONZE).agg(F.count("id"), F.countDistinct("id")).first()
        want_bronze = sum(b.accepted() for _p, b in files)
        return silver == run.model.silver_rows() and tuple(ids) == (
            want_bronze, want_bronze)

    run.op("final_state", final_state)
    tr.unshim()
    trig = [p["durationMs"]["triggerExecution"] for p in batches]
    add = [p["durationMs"]["addBatch"] for p in batches]
    if tr.enabled and q is not None:
        jobs, stages, tasks = tr.work(str(q.runId))
        n = len(batches)
        tr.count("batch.jobs", jobs / n)
        tr.count("batch.stages", stages / n)
        tr.count("batch.tasks", tasks / n)
        pipes = iter(tr.spans.get("incremental.run_pipeline_ms", []))
        for a, t, on in zip(add, trig, traced):
            tr.add("batch.overhead_ms", t - a)
            if on:
                p = next(pipes)
                tr.add("batch.gate_bronze_ms", a - p)
                tr.add("batch.run_pipeline_ms", p)
    return {
        "setup_s": setup_s,
        # the first micro-batch of a query also pays its start-up
        "write_s": [t / 1e3 for t in trig[1:]],
        "read_s": run.reads,
        "freshness_s": [fresh],
        "rows": sum(b.accepted() for _p, b in measured),
        "write_total_s": write_s,
        "cpu_s": cpu1 - cpu0,
        "host": host,
        "op_s": [t / 1e3 for t in trig[1:]],
        "traced": traced[1:],
        "detail": {"batches": len(batches), "gets": len(run.reads),
                   "trigger_ms": trig, "add_batch_ms": add},
    }


WORKLOADS = {"post_hourly": post_hourly, "stream_drop": stream_drop}
