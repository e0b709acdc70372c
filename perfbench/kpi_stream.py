"""``kpi_stream``: the paper's flagship pipeline under open-loop load.

Event files land in a spool directory on a fixed schedule and flow
through ``sources.files.parquet_stream`` →
``streaming.runner.streaming_quarter_hour_kpis`` →
``run_foreach_batch`` with ``restatement_batch_writer``.  That runner
sets no output mode, so the watermarked aggregation runs in append
mode: each quarter hour is written once, when the watermark passes it.

Phases of one run:

1. set-up: input generation (three times, median kept) and one drain
   (below) as JIT warm-up;
2. closed-loop drains: a pre-landed backlog read at a fixed
   ``maxFilesPerTrigger`` with an available-now trigger, three times;
3. open loop: a processing-time trigger every ``TRIGGER_S``, as the
   paper's pipelines run, and ``FILES_PER_TRIGGER`` files per trigger,
   landing every ``INTERVAL_S`` for 70 % of ``--seconds``, never
   waiting on the engine; each file's latency runs from its
   *scheduled* landing time to the commit of the batch that read it
   (checkpoint source log → offset log → commit log);
4. output check, after every stream: each closed quarter hour must
   equal DuckDB's ``kpi.QUARTER_HOUR_KPIS_SQL`` over the landed files.

Under ``--trace 1`` the open loop ends with one more file whose rows
are all far behind the watermark, so the state store's late-row drop
is measured too, and the curation ingest (``curation_ingest.py``)
runs after the measured phases.

The JVM's heap is collected before each timed stream, outside its
timing, as ``bench.py`` does before each timed query.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timezone

import duckdb

import gen
import measure as tr

#: the open loop's trigger, one of the paper's batch durations: nine
#: 200-row files land per trigger, so every batch reads 1 800 rows,
#: and a batch (0.5-0.6 s on 2 task slots) leaves the engine idle for
#: the rest of the interval.  Every trigger has new data, so no
#: watermark-only batch runs in between.  Without a trigger interval
#: the engine ran saturated and latency moved 1.5-2.5x with the host's
#: speed; with a 1-second one, which a batch fit with only a third of
#: a second to spare, some runs' latency rose 20-40 %.  Nine files, an
#: odd number, put the median and the reported p90 inside one slot.
TRIGGER_S = 2
FILES_PER_TRIGGER = 9
INTERVAL_S = TRIGGER_S / FILES_PER_TRIGGER
ROWS_PER_FILE = 200
#: share of --seconds spent landing files on the open-loop schedule
OPEN_LOOP_SHARE = 0.7
#: the drains read six 1 000-row batches
DRAIN_FILES = 30
DRAIN_MAX_FILES_PER_TRIGGER = 5
DRAINS = 3
GEN_REPS = 3
#: a landed file not committed this long after the last landing fails
COMMIT_TIMEOUT_S = 60.0


def _land(src: str, spool: str) -> None:
    """Copy under a hidden name, then rename: the file source never
    sees a partial file."""
    name = os.path.basename(src)
    tmp = os.path.join(spool, "." + name)
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(spool, name))


def _prelanded(files: list[str], spool: str) -> None:
    """Land a backlog at once, with strictly increasing modification
    times: the file source takes files oldest first, and ties would
    let a later slice of event time overtake an earlier one and push
    the watermark past rows that are still to come."""
    os.makedirs(spool)
    t = time.time_ns() - len(files) * 1_000_000
    for i, p in enumerate(files):
        _land(p, spool)
        stamp = t + i * 1_000_000
        os.utime(os.path.join(spool, os.path.basename(p)), ns=(stamp, stamp))


def _pipeline(ctx, stream_df, out_dir: str, ckpt: str, name: str, available_now: bool):
    """The flagship pipeline into ``out_dir``: drained when
    ``available_now``, else triggered every ``TRIGGER_S``."""
    from projetbigdatastreaming_spark.streaming.runner import (
        restatement_batch_writer,
        run_foreach_batch,
        streaming_quarter_hour_kpis,
    )

    write = restatement_batch_writer(out_dir)

    def batch_fn(df, batch_id):
        with ctx.tracer.span("mb.foreach_batch", batch_id=int(batch_id)):
            write(df, batch_id)

    return run_foreach_batch(
        streaming_quarter_hour_kpis(stream_df),
        batch_fn,
        ckpt,
        trigger_seconds=TRIGGER_S,
        available_now=available_now,
        query_name=name,
    )


def _drain_reader(spark, spool: str, schema):
    """``parquet_stream``'s reader plus ``maxFilesPerTrigger``, which
    that function does not expose."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", str(DRAIN_MAX_FILES_PER_TRIGGER))
        .load(spool)
    )


def check_windows(out_dir: str, files: list[str], ckpt: str) -> list[str]:
    """Files whose rows fall in a quarter hour that was emitted wrongly
    or not at all.

    ``run_foreach_batch`` sets no output mode, so the watermarked
    aggregation runs in append mode: a window is emitted once, when the
    watermark passes its end.  Every window ending at or before the
    last committed batch's watermark must therefore appear in the
    committed batches' output exactly as DuckDB's
    ``kpi.QUARTER_HOUR_KPIS_SQL`` computes it over ``files``, and no
    other window may appear."""
    watermark = _watermark(ckpt)
    last = max(tr.commit_times(ckpt), default=-1)
    with duckdb.connect() as con:
        return _window_diff(con, out_dir, files, watermark, last)


def _window_diff(
    con, out_dir: str, files: list[str], watermark: str | None, last: int
) -> list[str]:
    """``check_windows`` on an open DuckDB connection."""
    from projetbigdatastreaming_spark.plans.kpi import QUARTER_HOUR_KPIS_SQL

    cols = (
        "event_date, quarter_label, window_start, event_count,"
        " engaged_count, CAST(engagement_pct AS DOUBLE) AS engagement_pct"
    )
    closed = (
        f"window_start + INTERVAL '15 minutes' <= TIMESTAMP '{watermark}'"
        if watermark
        else "false"
    )
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
    con.execute(
        f"CREATE VIEW want AS SELECT {cols} FROM ({QUARTER_HOUR_KPIS_SQL})"
        f" WHERE {closed}"
    )
    got = os.path.join(out_dir, "batch_id=*", "*.parquet")
    con.execute(
        f"CREATE VIEW got AS SELECT {cols} FROM read_parquet('{got}',"
        f" hive_partitioning = true) WHERE batch_id <= {last}"
        if os.path.isdir(out_dir)
        else "CREATE VIEW got AS SELECT * FROM want WHERE false"
    )
    bad = con.execute(
        "SELECT 'want' AS side, * FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
        " UNION ALL SELECT 'got', * FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"
    ).fetchall()
    if not bad:
        return []
    print(f"kpi_stream: {out_dir} (watermark {watermark}) differs: {bad}", file=sys.stderr)
    starts = ", ".join(f"TIMESTAMP '{w[3]}'" for w in bad)
    rows = con.execute(
        f"SELECT DISTINCT filename FROM read_parquet({files!r}, filename = true)"
        f" WHERE time_bucket(INTERVAL '15 minutes', ts) IN ({starts})"
    ).fetchall()
    return [os.path.basename(r[0]) for r in rows] or ["<no file>"]


def _watermark(ckpt: str) -> str | None:
    """The last committed batch's watermark as a naive UTC literal."""
    ms = tr.committed_watermark_ms(ckpt)
    if not ms:
        return None
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).replace(
        tzinfo=timezone.utc
    ).timestamp()


def _drain(ctx, files: list[str], name: str, schema) -> tuple[float, float, list[str]]:
    """One closed-loop drain of a pre-landed backlog: (wall s, CPU s,
    files the output check failed).  The clocks stop before the
    check."""
    spool, out, ckpt = (os.path.join(ctx.work, f"{name}_{d}") for d in ("spool", "out", "ckpt"))
    _prelanded(files, spool)
    ctx.spark.sparkContext._jvm.System.gc()
    cpu0, t0 = ctx.cpu_s(), time.perf_counter()
    q = _pipeline(
        ctx, _drain_reader(ctx.spark, spool, schema), out, ckpt, name, available_now=True
    )
    q.awaitTermination()
    wall, cpu = time.perf_counter() - t0, ctx.cpu_s() - cpu0
    return wall, cpu, [f"{name}/{f}" for f in check_windows(out, files, ckpt)]


def run(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    n_open = FILES_PER_TRIGGER * max(2, round(OPEN_LOOP_SHARE * ctx.seconds / TRIGGER_S))

    # -- set-up: inputs, then one drain as JIT warm-up --------------------------
    gen_s = []
    for rep in range(GEN_REPS):
        t0 = time.perf_counter()
        stage = os.path.join(work, f"stage{rep}")
        paths = gen.write_event_files(
            gen.event_files(ctx.seed, n_open + DRAIN_FILES, ROWS_PER_FILE), stage, "ev"
        )
        gen_s.append(time.perf_counter() - t0)
    # every repetition wrote the same files; the last ones are landed
    open_files, drain_files = paths[:n_open], paths[n_open:]
    ctx.tracer.tags.update(phase="warm", attempt=None)
    t0 = time.perf_counter()
    schema = spark.read.parquet(paths[0]).schema
    schema_s = time.perf_counter() - t0
    # the warm-up counts as set-up from its stream's start to its end,
    # without the landing before it or the output check after it
    warm_s, _, failed = _drain(ctx, drain_files, "warm", schema)
    ctx.setup_parts(statistics.median(gen_s) + schema_s + warm_s)
    failed = set(failed)
    ops = len(drain_files)

    def measure(k: int) -> dict:
        """The measured phases; ``k`` numbers the attempt."""
        ctx.tracer.tags.update(phase="drain", attempt=k)
        m = {"failed": set(), "ops": 0, "drain_s": [], "drain_cpu": []}
        for d in range(DRAINS):
            wall, cpu, bad = _drain(ctx, drain_files, f"a{k}_drain{d}", schema)
            m["drain_s"].append(wall)
            m["drain_cpu"].append(cpu)
            m["failed"].update(bad)
            m["ops"] += len(drain_files)
        opened = _open_loop(ctx, k, open_files, schema)
        m["failed"] |= opened.pop("failed")
        m.update(opened)
        m["ops"] += len(open_files) + ctx.traced  # and the late file
        return m

    attempts = ctx.measured(measure)
    m = attempts[-1]
    ops += sum(a["ops"] for a in attempts)
    for a in attempts:
        failed.update(a["failed"])

    lat_ms = [v * 1000 for v in m["lat"].values()]
    p50, _ = tr.percentile(lat_ms, 0.5)
    p90, q90 = tr.percentile(lat_ms, 0.9)
    drain_rows = DRAIN_FILES * ROWS_PER_FILE
    pass_s = statistics.median(m["drain_s"])
    pass_cpu = statistics.median(m["drain_cpu"])
    ctx.note(
        samples=len(lat_ms),
        drain_s=m["drain_s"],
        latency_p90_reported_as=f"p{100 * q90:.0f}",
        drain_rows_per_s=drain_rows / pass_s,
        cpu_ms_per_krow=1000 * pass_cpu / (drain_rows / 1000),
    )
    result = {
        "attempted": ops,
        "failed": len(failed),
        "e2e": {
            "latency_p50_ms": p50,
            "latency_p90_ms": p90,
            "pass_s": pass_s,
            "pass_cpu_s": pass_cpu,
        },
    }
    if ctx.traced:
        import curation_ingest

        result["layers"] = _layers(ctx, len(attempts) - 1, m)
        ingest = curation_ingest.run(ctx)
        result["layers"].update(ingest["layers"])
        result["attempted"] += ingest["attempted"]
        result["failed"] += ingest["failed"]
    return result


def _open_loop(ctx, k: int, open_files: list[str], schema) -> dict:
    """Land ``open_files`` on the fixed schedule into a fresh stream and
    wait for every one to commit; returns per-file latency and what the
    per-layer figures need."""
    from projetbigdatastreaming_spark.sources.files import parquet_stream

    spool, ckpt, out = (os.path.join(ctx.work, f"a{k}_open_{n}") for n in ("spool", "ckpt", "out"))
    os.makedirs(spool)
    ctx.tracer.tags["phase"] = "open"
    ctx.spark.sparkContext._jvm.System.gc()
    q = _pipeline(
        ctx, parquet_stream(ctx.spark, spool, schema), out, ckpt, f"a{k}_open", False
    )
    # the trigger fires on whole multiples of TRIGGER_S since the epoch;
    # landing the files half an interval after those ticks gives every
    # run the same spread of waits for the next tick
    t_start = TRIGGER_S * (math.floor(time.time() / TRIGGER_S) + 2) + INTERVAL_S / 2
    due, late = {}, []
    for i, src in enumerate(open_files):
        t_due = t_start + i * INTERVAL_S
        pause = t_due - time.time()
        if pause > 0:
            time.sleep(pause)
        _land(src, spool)
        due[os.path.basename(src)] = t_due
        late.append(time.time() - t_due)
    lat, missing = _await_commits(ckpt, due)
    late_batch = None
    if ctx.traced:
        # one file of rows far behind the watermark, after the others:
        # the state store must drop every row of it, and the output
        # check below then fails if any of them reached a window
        src = gen.write_event_files(
            [gen.late_event_file(ctx.seed)], os.path.join(ctx.work, f"a{k}_late"), "late"
        )[0]
        _land(src, spool)
        name = os.path.basename(src)
        _, late_missing = _await_commits(ckpt, {name: 0.0})
        missing += late_missing
        late_batch = tr.file_batches(ckpt).get(name)
        deadline = time.time() + COMMIT_TIMEOUT_S
        while time.time() < deadline and all(p.batchId != late_batch for p in q.recentProgress):
            time.sleep(0.1)
    progress = list(q.recentProgress)
    q.stop()
    bad = set(missing) | set(check_windows(out, open_files, ckpt))
    return {
        "lat": lat, "failed": bad, "progress": progress, "late_batch": late_batch,
        "due": due, "late": late, "ckpt": ckpt, "out": out,
    }


def _await_commits(ckpt: str, due: dict[str, float]) -> tuple[dict[str, float], list[str]]:
    """``tr.file_latencies`` once every file in ``due`` has committed,
    or after ``COMMIT_TIMEOUT_S``."""
    deadline = time.time() + COMMIT_TIMEOUT_S
    while True:
        lat, missing = tr.file_latencies(ckpt, due)
        if not missing or time.time() > deadline:
            return lat, missing
        time.sleep(0.1)


def _layers(ctx, attempt: int, m: dict) -> dict:
    """Per-layer figures of the kept attempt's open-loop phase."""
    progress, due, ckpt, out, late = (m[k] for k in ("progress", "due", "ckpt", "out", "late"))
    dropped_late = sum(
        s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators
    )
    # the late file's batch is measured for the drop alone
    progress = [p for p in progress if p.batchId != m["late_batch"]]

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    dur = [p.durationMs for p in progress]
    data = [p for p in progress if p.numInputRows > 0]
    batch_of = tr.file_batches(ckpt)
    started = {p.batchId: _ts(p.timestamp) for p in progress}
    waits = [
        started[batch_of[f]] - t_due
        for f, t_due in due.items()
        if batch_of.get(f) in started
    ]
    parts = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    trig = mean([d.get("triggerExecution", 0) for d in dur])
    part_means = {k: mean([d.get(k, 0) for d in dur]) for k in parts}
    states = [p.stateOperators[0] for p in progress if p.stateOperators]

    log = tr.read_event_log(ctx.event_log_dir)
    qid = str(progress[0].id) if progress else None
    late_batch = str(m["late_batch"])
    by_batch = tr.group_jobs(
        log,
        lambda props: props.get("streaming.sql.batchId")
        if props.get("sql.streaming.queryId") == qid
        and props.get("streaming.sql.batchId") != late_batch
        else None,
    )
    n_b = max(1, len(by_batch))

    own = tr.self_times(ctx.tracer.spans)
    batches = [
        s for s in ctx.tracer.spans
        if s["phase"] == "open" and s["attempt"] == attempt
        and s["name"] == "mb.foreach_batch" and s["batch_id"] != m["late_batch"]
    ]
    ids = {s["id"] for s in batches}
    sink_spans = [
        s["end"] - s["start"] for s in ctx.tracer.spans
        if s["name"] == "sink.write" and s["parent"] in ids
    ]
    batch_self = [own[s["id"]] for s in batches]
    files, size = 0, 0
    for root, _, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    n_data = max(1, len(data))
    late_ms, _ = tr.percentile([x * 1000 for x in late], 0.9)
    return {
        "src.latest_offset_ms": part_means["latestOffset"],
        "src.get_batch_ms": part_means["getBatch"],
        "src.files_per_batch": len(due) / n_data,
        "src.rows_per_batch": mean([p.numInputRows for p in data]),
        "mb.batches": len(progress),
        "mb.trigger_ms": trig,
        "mb.planning_ms": part_means["queryPlanning"],
        "mb.add_batch_ms": part_means["addBatch"],
        "mb.commit_ms": part_means["walCommit"] + part_means["commitOffsets"],
        "mb.other_ms": trig - sum(part_means.values()),
        "mb.queue_wait_ms": 1000 * mean(waits),
        "mb.jobs_per_batch": sum(g["jobs"] for g in by_batch.values()) / n_b,
        "mb.stages_per_batch": sum(len(g["stages"]) for g in by_batch.values()) / n_b,
        "mb.tasks_per_batch": sum(
            log["stages"][s]["tasks"] for g in by_batch.values() for s in g["stages"]
        )
        / n_b,
        "state.rows_total": states[-1].numRowsTotal if states else 0,
        "state.mem_bytes": max((s.memoryUsedBytes for s in states), default=0),
        "state.commit_ms": mean([s.commitTimeMs for s in states]),
        "state.rows_dropped_late": dropped_late,
        "mb.foreach_self_ms": 1000 * mean(batch_self),
        "sink.write_ms": 1000 * mean(sink_spans),
        "sink.files_written": files / n_data,
        "sink.bytes_written": size / n_data,
        "gen.late_ms_p90": late_ms,
    }
