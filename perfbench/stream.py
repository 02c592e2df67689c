"""stream_sql_sink: streaming SQL from emrlog shards into the
exactly-once jdbc2 sink.

The statement is corpus-shaped: a stream-static join to a small user
dimension, then ``TUMBLING`` + ``delay()``, ``INSERT INTO`` a ``USING
jdbc2`` sink (``ExecutorExactlyOnceSink``) in update mode. Every result
row carries ``max(gen_ts)``, the creation time of the newest event that
contributed to it.

Two phases:

- open loop: one generator thread publishes events on a fixed schedule
  (RATE events/s in TICK_S ticks, each tick one new shard file, renamed
  into place so a reader never sees a partial line); 5 % of events are
  late by up to 5 min of event time. Latency samples come from here,
  from the triggers that start after the first RAMP_S seconds.
- drain: a closed-loop drain of a backlog written during set-up, with a
  fresh query, BACKLOG_PER_TRIGGER events a trigger; ``rows_per_s`` and
  ``wall_s`` come from here.
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
import time
from datetime import datetime, timedelta, timezone

from harness import Result, median, pct, steal_share

RATE = 1000  # events/s in the open-loop phase, well under capacity
TICK_S = 0.5
EVENT_SPEED = 60.0  # event-time seconds per wall second
LATE_FRAC = 0.05
LATE_MAX_S = 300.0  # the watermark delay below is 5 minutes
N_USERS = 500
N_SEGMENTS = 8
BACKLOG = 18_000  # drain-phase events
BACKLOG_PER_TRIGGER = 6_000
# the first triggers of a new query run slower (1.6–2.0 s against
# 1.2–1.4 s) for 4–7 s; load runs this long before latency is sampled
RAMP_S = 6.0
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCRIPT = """
SET spark.sql.shuffle.partitions=4;
CREATE TABLE events_{tag} (event_id bigint, user_id bigint, value double,
                           ts timestamp, gen_ts double)
USING emrlog OPTIONS (path '{shards}'{limit});
CREATE TABLE users_{tag} USING parquet OPTIONS (path '{dim}');
CREATE TABLE sink_{tag} USING jdbc2
    OPTIONS (url 'jdbc:sqlite:{db}', dbtable 'seg_{tag}', output.mode 'update',
             checkpointLocation '{ckpt}');
INSERT INTO sink_{tag}
SELECT u.segment, CAST(window.start AS STRING) AS w_start, COUNT(*) AS n,
       SUM(e.value) AS total, MAX(e.gen_ts) AS max_gen_ts
FROM events_{tag} e JOIN users_{tag} u ON e.user_id = u.user_id
WHERE delay(e.ts) < '5 minutes'
GROUP BY TUMBLING(e.ts, interval 1 minute), u.segment
"""

LAYERS = (
    "sources.emrlog.latest_offset_ms",
    "sources.emrlog.get_batch_ms",
    "sources.emrlog.lag_rows",
    "plans.streaming_sql.script_s",
    "plans.streaming_sql.query_planning_ms",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.watermark_dropped_rows",
    "streaming.state.rows",
    "streaming.state.memory_bytes",
    "streaming.state.commit_ms",
    "streaming.sink.batches_attempted",
    "streaming.sink.batches_committed",
    "streaming.sink.rows_written",
    "gen.late_ms_max",
)


def layer_names() -> list[str]:
    return list(LAYERS)


class EventSource:
    """Seeded event stream. Event time advances EVENT_SPEED times as
    fast as wall time from the moment the phase starts; a LATE_FRAC
    share of events is stamped up to LATE_MAX_S earlier."""

    def __init__(self, seed: int) -> None:
        import numpy as np

        self.rng = np.random.default_rng(seed)
        self.next_id = 0

    def events(self, n: int, event_s: float, gen_ts: float) -> list[str]:
        rng = self.rng
        users = rng.integers(0, N_USERS, n)
        values = rng.exponential(50.0, n).round(2)
        late = rng.random(n) < LATE_FRAC
        lateness = rng.uniform(0.0, LATE_MAX_S, n)
        lines = []
        for i in range(n):
            ts = EPOCH + timedelta(seconds=event_s - (lateness[i] if late[i] else 0.0))
            lines.append(json.dumps({
                "event_id": self.next_id, "user_id": int(users[i]), "value": float(values[i]),
                "ts": ts.isoformat(), "gen_ts": gen_ts,
            }))
            self.next_id += 1
        return lines


def publish(shards: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(shards, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(shards, f"{name}.jsonl"))


class Generator(threading.Thread):
    """Open-loop load: publishes RATE * TICK_S events every TICK_S
    seconds, on schedule whatever the query does. Records how late
    each tick ran against its due time."""

    def __init__(self, src: EventSource, shards: str, seconds: float) -> None:
        super().__init__(daemon=True)
        self.src, self.shards, self.seconds = src, shards, seconds
        self.generated = 0
        self.started = 0.0  # wall clock, seconds since the epoch
        self.late_ms: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            per_tick = int(RATE * TICK_S)
            self.started = time.time()
            t0 = time.perf_counter()
            ticks = int(self.seconds / TICK_S)
            for k in range(ticks):
                due = t0 + k * TICK_S
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
                    now = time.perf_counter()
                self.late_ms.append(max(0.0, (now - due) * 1000.0))
                lines = self.src.events(per_tick, (now - t0) * EVENT_SPEED, time.time())
                publish(self.shards, f"shard-{k:06d}", lines)
                self.generated += per_tick
        except Exception as exc:  # noqa: BLE001 — surfaced by the caller
            self.error = exc


def prepare(root_dir: str, seed: int) -> dict[str, str]:
    """Dimension table plus the drain backlog, from the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    dim = os.path.join(root_dir, "users.parquet")
    pq.write_table(pa.table({
        "user_id": pa.array(range(N_USERS), pa.int64()),
        "segment": pa.array([f"seg{int(s)}" for s in rng.integers(0, N_SEGMENTS, N_USERS)]),
    }), dim)
    backlog = os.path.join(root_dir, "backlog")
    os.makedirs(backlog, exist_ok=True)
    src = EventSource(seed + 1)
    per_shard = BACKLOG // 8
    for k in range(8):
        # event time advances one minute per 1,000 events
        publish(backlog, f"shard-{k:06d}", src.events(per_shard, k * per_shard * 0.06, 0.0))
    return {"dim": dim, "backlog": backlog}


def start_query(spark, tracer, tag: str, shards: str, dim: str, work: str, limit: int = 0):
    from aliyun_emapreduce_datasources_spark.plans.streaming_sql import StreamingSqlSession

    db = os.path.join(work, f"{tag}.db")
    script = SCRIPT.format(
        tag=tag, shards=shards, dim=dim, db=db, ckpt=os.path.join(work, f"ckpt_{tag}"),
        limit=f", maxOffsetsPerTrigger '{limit}'" if limit else "",
    )
    sess = StreamingSqlSession(spark)
    with tracer.span("plans.streaming_sql.script") as sp:
        sess.execute_script(script)
    return sess.queries[f"sink_{tag}"], db, sp.adjusted


def sink_rows(db: str, tag: str):
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            f"SELECT _batch_id, _partition_id, segment, w_start, n, total, max_gen_ts FROM seg_{tag}"
        ).fetchall()
        log = con.execute(f"SELECT batch_id, status FROM seg_{tag}__stream_log").fetchall()
    finally:
        con.close()
    return rows, log


def batch_result(shards: str, dim: str) -> dict[tuple[str, str], tuple[int, float, float]]:
    """The statement's SELECT in batch form over every event under
    ``shards``, computed in plain Python (the session time zone is UTC):
    {(segment, window start): (count, sum of value, max gen_ts)}."""
    import pyarrow.parquet as pq

    users = pq.read_table(dim).to_pydict()
    segment = dict(zip(users["user_id"], users["segment"]))
    out: dict[tuple[str, str], tuple[int, float, float]] = {}
    for name in sorted(os.listdir(shards)):
        if not name.endswith(".jsonl"):
            continue
        with open(os.path.join(shards, name)) as fh:
            for line in fh:
                e = json.loads(line)
                seg = segment.get(e["user_id"])
                if seg is None:
                    continue
                start = datetime.fromisoformat(e["ts"]).replace(second=0, microsecond=0)
                key = (seg, start.strftime("%Y-%m-%d %H:%M:%S"))
                n, total, mx = out.get(key, (0, 0.0, float("-inf")))
                out[key] = (n + 1, total + e["value"], max(mx, e["gen_ts"]))
    return out


def check_sink(rows, log, want: dict) -> list[str]:
    """Exactly-once and equality checks against ``batch_result``;
    returns failure reasons."""
    bad = []
    statuses = {}
    for bid, status in log:
        if bid in statuses:
            bad.append(f"batch {bid} logged twice")
        statuses[bid] = status
    bad += [f"batch {b} left {s}" for b, s in statuses.items() if s != "COMMITTED"]
    seen = set()
    last: dict[tuple, tuple] = {}
    for bid, part, seg, w, n, total, mx in rows:
        if bid not in statuses:
            bad.append(f"rows of unlogged batch {bid}")
        key = (bid, seg, w)
        if key in seen:
            bad.append(f"duplicate row {key} (partition {part})")
        seen.add(key)
        if (seg, w) not in last or last[(seg, w)][0] < bid:
            last[(seg, w)] = (bid, int(n), float(total), float(mx))
    if set(want) != set(last):
        bad.append(f"windows differ: {len(set(want) ^ set(last))} of {len(want)}")
    for k, (n, total, mx) in want.items():
        got = last.get(k)
        if got is None:
            continue
        # the sink stores TEXT: SQLite keeps 15 significant digits
        if got[1] != n or abs(got[2] - total) > 1e-9 * max(1.0, abs(total)) or abs(got[3] - mx) > 1e-4:
            bad.append(f"window {k}: last update {got[1:]} vs batch {(n, total, mx)}")
    return bad


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def trigger_start_ms(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return ts.timestamp() * 1000.0


def trigger_end_ms(p: dict) -> float:
    return trigger_start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def run(ctx) -> Result:
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    inputs = ctx.timed_setup(lambda: prepare(os.path.join(ctx.work, "input"), ctx.seed))
    dim = inputs["dim"]
    with ctx.warmup():
        # a short drain through the same statement: plans the query
        # shape, starts the Python reader/writer workers, JITs the sink
        warm = os.path.join(ctx.work, "warm")
        os.makedirs(warm)
        publish(warm, "shard-000000", EventSource(ctx.seed + 7).events(2000, 0.0, 0.0))
        q, _, _ = start_query(spark, tr, "warm", warm, dim, ctx.work)
        q.processAllAvailable()
        q.stop()

    # latency is sampled for --seconds, after the ramp-up
    open_s = RAMP_S + ctx.seconds
    shards = os.path.join(ctx.work, "live")
    os.makedirs(shards)
    gen = Generator(EventSource(ctx.seed + 2), shards, open_s)
    q, db, script_s = start_query(spark, tr, "live", shards, dim, ctx.work)
    # load starts once the new query has initialized and is idle
    ready_by = time.perf_counter() + 20.0
    while q.isActive and q.status["message"] != "Waiting for data to arrive":
        if time.perf_counter() > ready_by:
            break
        time.sleep(0.05)
    with tr.span("stream.open_loop") as open_loop:
        gen.start()
        gen.join()
    progress = progress_of(q)
    consumed = sum(p["numInputRows"] for p in progress)
    with tr.span("stream.catch_up") as catch_up:
        q.processAllAvailable()
    # row latencies are charged the CPU share stolen while they ran
    live_steal = steal_share(open_loop.cpu0, catch_up.cpu1)
    q.stop()
    open_progress = progress_of(q)
    if gen.error is not None:
        res.fail(f"generator: {gen.error!r}")
    if q.exception() is not None:
        res.fail(f"open-loop query: {q.exception()}")

    # drain: closed loop over the pre-written backlog with a fresh query
    with tr.span("stream.drain") as drain:
        dq, ddb, _ = start_query(spark, tr, "drain", inputs["backlog"], dim, ctx.work,
                                 limit=BACKLOG_PER_TRIGGER)
        dq.processAllAvailable()
    dq.stop()
    drain_progress = progress_of(dq)
    if dq.exception() is not None:
        res.fail(f"drain query: {dq.exception()}")

    # checks, outside the timed region
    lat_ms: list[float] = []
    sampled = [p for p in open_progress if trigger_start_ms(p) >= (gen.started + RAMP_S) * 1000.0]
    end_of = {p["batchId"]: trigger_end_ms(p) for p in sampled}
    rows, log = sink_rows(db, "live")
    for bid, _part, _seg, _w, _n, _t, mx in rows:
        if bid in end_of:
            lat_ms.append((end_of[bid] - float(mx) * 1000.0) * (1.0 - live_steal))
    committed = sum(1 for _, s in log if s == "COMMITTED")
    for why in check_sink(rows, log, batch_result(shards, dim)):
        res.fail(f"open loop: {why}")
    for why in check_sink(*sink_rows(ddb, "drain"), batch_result(inputs["backlog"], dim)):
        res.fail(f"drain: {why}")
    # an operation is a micro-batch that carried data
    res.attempted += sum(1 for p in open_progress + drain_progress if p["numInputRows"] > 0)

    res.e2e = {
        "wall_s": drain.adjusted,
        "rows_per_s": BACKLOG / drain.adjusted,
        "latency_p50_ms": median(lat_ms),
        "latency_p90_ms": pct(lat_ms, 90),
    }
    res.samples = {"wall_s": 1, "rows_per_s": 1,
                   "latency_p50_ms": len(lat_ms), "latency_p90_ms": len(lat_ms)}
    res.notes.append(
        f"open loop: {gen.generated} events at {RATE}/s over {open_s:g} s, "
        f"generator late by at most {max(gen.late_ms or [0.0]):.1f} ms; "
        f"{len(log)} batches, {committed} committed; drain {BACKLOG} events, raw drain wall "
        f"{drain.seconds:.3f} s; stolen CPU share {live_steal:.3f} (open loop), "
        f"{drain.steal:.3f} (drain)"
    )

    if tr.enabled:
        data = [p for p in sampled if p["numInputRows"] > 0]

        def dur(key: str) -> float:
            return median([p["durationMs"].get(key, 0) for p in data])

        def state(key: str) -> float:
            return median([p["stateOperators"][0][key] for p in data if p["stateOperators"]])

        res.layers = {
            "sources.emrlog.latest_offset_ms": dur("latestOffset"),
            "sources.emrlog.get_batch_ms": dur("getBatch"),
            "sources.emrlog.lag_rows": float(gen.generated - consumed),
            "plans.streaming_sql.script_s": script_s,
            "plans.streaming_sql.query_planning_ms": dur("queryPlanning"),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.watermark_dropped_rows": float(sum(
                p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                for p in data if p["stateOperators"]
            )),
            "streaming.state.rows": state("numRowsTotal"),
            "streaming.state.memory_bytes": state("memoryUsedBytes"),
            "streaming.state.commit_ms": state("commitTimeMs"),
            "streaming.sink.batches_attempted": float(len(log)),
            "streaming.sink.batches_committed": float(committed),
            "streaming.sink.rows_written": float(len(rows)),
            "gen.late_ms_max": max(gen.late_ms or [0.0]),
        }
    return res
