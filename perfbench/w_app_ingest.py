"""app_ingest: the monitoring demo app run as a service.

A separate generator process POSTs heartbeats open loop, at a fixed rate
over one connection at a time, to a hot-registered collector. The spool
feeds a stored-function stream node (an inc or dec step that stamps its
chain number, a sliding buffer, and a quarantine for events without a
value) whose micro-batches go to a durable ``DocStoreSink``. One
closed-loop reader thread cycles ``latest``, ``entity``, ``as_of``,
``history`` and a ``DatalogDB.q`` over the live store.

The run has three phases while events keep arriving: the stream's cold
start up to its first applied batch; three inc/dec hot-swaps of the
node, back to back (republish, then restart at a batch boundary), until
the last chain has caught up; and ``--seconds`` of steady ingest under
the last chain. A swap costs this
engine seconds, so spacing the swaps out would not fit the run.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from statistics import fmean

from common import JobCounter, Result, median, pct

HERE = os.path.dirname(os.path.abspath(__file__))

RATE = 20.0  # events per second
APPS = 200
MALFORMED = 0.03
SWAPS = 3
SCHEMA = "seq long, app string, event string, value long, created double, ts string"
READS = ("latest", "entity", "as_of", "history", "datalog")


def _stream_doc(k: int) -> dict:
    """The node's stored-function document under chain ``k``: even
    chains increment the value, odd chains decrement it."""
    return {
        "name": "normalize",
        "upstreams": ["heartbeats-in"],
        "steps": [{"op": "map", "cols": {
            "value": "value + 1" if k % 2 == 0 else "value - 1",
            "chain": str(k),
        }}],
        "buffer": {"sliding-buffer": 10000},
        "buffer_key": ["app"],
        "buffer_ts": "ts",
        "quarantine": "value IS NULL",
    }


def setup(ctx, spark) -> dict:
    from pyspark.sql import functions as F

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.engine import Engine

    d = os.path.join(ctx.work, "app")
    os.makedirs(d)
    engine = Engine(config={
        "control.log": os.path.join(d, "bus.log"),
        "collector.spool": os.path.join(d, "spool"),
    }, spark=spark)
    st = {"engine": engine, "dir": d}
    try:
        engine.create_function("collector", {"name": "heartbeats"})
        collector = engine.start_collector()
        engine.graph.add_source(
            "heartbeats-in",
            lambda: collector.stream(spark, "heartbeats", SCHEMA)
            .withColumn("ts", F.col("ts").cast("timestamp")),
        )
        engine.create_function("stream", _stream_doc(0))
        st["sink"] = DocStoreSink(
            engine.user_db_ref,
            id_col=F.concat(F.lit("app/"), F.col("app")),
            ts_col="ts",
            durable_path=os.path.join(d, "user_db"),
        )
        st["collector"] = collector
    except BaseException:
        engine.stop()
        raise
    return st


def teardown(state: dict) -> None:
    state["engine"].stop()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def _reader(ctx, spark, engine, counter, stop: threading.Event, out: list, rng: random.Random):
    """Closed-loop reader over the live store; every other op runs with
    tracing suspended so the run can report the tracing overhead."""
    from dataworks_spark.docs.datalog import DatalogDB

    tr = ctx.tracer
    i = 0
    while not stop.is_set():
        kind = READS[i % len(READS)]
        doc_id = f"app/app{rng.randrange(APPS):04d}"
        traced = i % 2 == 0
        layer = "docs.datalog" if kind == "datalog" else "docs.store"
        t_wall, t0 = time.time(), time.perf_counter()
        err = None
        try:
            with (nullcontext() if traced else tr.off()), (nullcontext() if traced else counter.off()):
                with counter.group("ingest.read"), tr.span(layer, op=kind):
                    store = engine.user_db
                    if kind == "latest":
                        store.latest().count()
                    elif kind == "entity":
                        store.entity(doc_id).collect()
                    elif kind == "as_of":
                        vt = dt.datetime.utcnow() - dt.timedelta(seconds=1)
                        store.as_of(vt.strftime("%Y-%m-%d %H:%M:%S.%f")).count()
                    elif kind == "history":
                        store.history(doc_id).collect()
                    else:
                        db = DatalogDB(spark)
                        db.register("app", store.latest(), "id")
                        db.q(find=["?a", "?v"], where=[
                            ("?a", "app/event", "degraded"), ("?a", "app/value", "?v"),
                        ]).count()
        except Exception as exc:  # noqa: BLE001 — a failed read is a counted failure
            err = repr(exc)[:300]
        out.append({"kind": kind, "t": t_wall, "s": time.perf_counter() - t0, "traced": traced,
                    "error": err})
        i += 1


def run(ctx, spark, state: dict) -> Result:
    from pyspark.sql import functions as F

    from dataworks_spark.functions.timeops import NEVER

    tr = ctx.tracer
    counter = JobCounter(spark, ctx.trace)
    engine, sink, d = state["engine"], state["sink"], state["dir"]
    graph = engine.graph
    ck = os.path.join(d, "ck")
    batches: list[dict] = []
    victim: list[int] = []
    #: set once a batch under chain k has been applied
    served = [threading.Event() for _ in range(SWAPS + 1)]
    #: set once the last chain has applied its second batch: its first
    #: replays the epoch the restart interrupted, the second catches up
    caught_up = threading.Event()

    def on_batch(df, epoch):
        dead = graph.dead_letter("normalize")  # this batch's quarantine split
        if "drop_ack" in ctx.faults:
            if not victim:
                victim.extend(r[0] for r in df.select("seq").limit(1).collect())
            df = df.filter(~F.col("seq").isin(victim))
        t_start = time.time()
        with counter.group("ingest.batch"), tr.span("docs.sink", epoch=epoch):
            sink.foreach_batch(df, epoch)
        t_vis = time.time()
        # what the gates need: the applied rows and the dead letters
        rows = [tuple(r) for r in df.select("seq", "created", "chain", "value").collect()]
        dls = [r[0] for r in dead.select("seq").collect()] if dead is not None else []
        batches.append({"epoch": epoch, "start": t_start, "vis": t_vis, "end": time.time(),
                        "rows": rows, "dead": dls})
        for c in {r[2] for r in rows}:
            served[c].set()
        if sum(1 for b in batches if b["rows"] and b["rows"][0][2] == SWAPS) >= 2:
            caught_up.set()

    def start_query():
        return graph.start_foreach_batch("normalize", on_batch, checkpoint=ck)

    gen_out = os.path.join(d, "gen.json")
    stop_file = os.path.join(d, "gen.stop")
    t_query = time.time()
    q = start_query()
    proc = subprocess.Popen([
        sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(state["collector"].port),
        "--path", "heartbeats", "--seed", str(ctx.seed), "--rate", str(RATE),
        "--apps", str(APPS), "--malformed", str(MALFORMED), "--stop", stop_file, "--out", gen_out,
    ])
    reads: list[dict] = []
    swaps: list[dict] = []
    stop = threading.Event()
    reader = threading.Thread(
        target=_reader, args=(ctx, spark, engine, counter, stop, reads, random.Random(ctx.seed)),
        daemon=True,
    )
    try:
        if not served[0].wait(timeout=60):
            raise RuntimeError("no micro-batch within 60 s of the stream start")
        reader.start()
        for k in range(1, SWAPS + 1):
            t0 = time.time()
            with tr.span("engine", op="create_function"):
                engine.create_function("stream", _stream_doc(k))
            t1 = time.time()
            with tr.span("streaming.graph", op="restart"):
                q.stop()
                q.awaitTermination()
                t_stopped = time.time()
                q = start_query()
            swaps.append({"k": k, "publish": t0, "create_s": t1 - t0, "stopped": t_stopped,
                          "restart_s": time.time() - t1})
        if not caught_up.wait(timeout=90):
            raise RuntimeError(f"chain {SWAPS} did not catch up within 90 s")
        t_steady = time.time()
        time.sleep(ctx.seconds)
        open(stop_file, "w").close()
        proc.wait(timeout=60)
        t_gen_end = time.time()
        stop.set()
        reader.join(timeout=60)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        stop.set()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        if reader.is_alive():
            reader.join(timeout=60)
    with open(gen_out) as f:
        sent = json.load(f)

    # ---- gates -------------------------------------------------------
    errors: list = []
    bad_status = [e["seq"] for e in sent if e["status"] != 200]
    if bad_status:
        errors.append(("post_status", bad_status[:5]))
    acked = {e["seq"]: e for e in sent if e["status"] == 200}
    good = {s for s, e in acked.items() if "value" in e}
    malformed = {s for s, e in acked.items() if "value" not in e}
    vis = {}
    for b in batches:
        for seq, created, chain, value in b["rows"]:
            vis[seq] = (b["vis"], created, chain, value)
    dead = sorted(s for b in batches for s in b["dead"])
    if sorted(malformed) != dead:
        errors.append(("dead_letters", len(malformed), len(dead)))
    store = engine.user_db
    cur = store.versions.filter(F.col("tx_to") == F.lit(NEVER))
    stored = {r[0] for r in cur.select("seq").distinct().collect()}
    lost, phantom = sorted(good - stored), sorted(stored - good)
    if lost or phantom:
        errors.append(("stored", "lost", lost[:5], "phantom", phantom[:5]))
    last_per_app: dict[str, tuple] = {}
    for s in sorted(good, key=lambda s: acked[s]["sent"]):
        last_per_app[f"app/{acked[s]['app']}"] = s
    latest = {r[0]: r[1] for r in store.latest().select("id", "seq").collect()}
    if latest != last_per_app:
        diff = sorted(k for k in set(latest) | set(last_per_app) if latest.get(k) != last_per_app.get(k))
        errors.append(("latest", diff[:5]))
    # old-before/new-after at a batch boundary (ReadMe.org:64): chain
    # numbers never decrease in arrival order, an event sent after swap
    # k stopped the old query carries a chain >= k, and the value is
    # incremented or decremented as its chain's parity says
    order = sorted(vis, key=lambda s: acked[s]["sent"] if s in acked else math.inf)
    chains = [vis[s][2] for s in order]
    if any(b < a for a, b in zip(chains, chains[1:])):
        errors.append(("chain_order",))
    stops = [w["stopped"] for w in swaps]
    for s in order:
        if s not in acked:
            continue
        chain, e = vis[s][2], acked[s]
        floor = sum(1 for t in stops if e["sent"] > t)
        if chain < floor or vis[s][3] != e["value"] + (1 if chain % 2 == 0 else -1):
            errors.append(("chain", s, chain, floor))
            break
    walls = [b["vis"] - b["start"] for b in batches]
    steady = [b for b in batches if b["start"] >= t_steady]
    idles = [b2["start"] - b1["end"] for b1, b2 in zip(batches, batches[1:])]
    # backlog when the generator stops: acknowledged events that no
    # batch started by then had picked up. One trigger's worth is the
    # median steady batch; half as much again allows for the listing
    # that precedes a batch, and a bigger backlog means the stream had
    # fallen behind.
    picked = {s for b in batches if b["start"] <= t_gen_end for s in [r[0] for r in b["rows"]] + b["dead"]}
    backlog = sum(1 for s in acked if s not in picked)
    window = [b for b in steady if b["start"] <= t_gen_end] or batches[1:] or batches
    trigger_worth = median(len(b["rows"]) + len(b["dead"]) for b in window)
    if backlog > 1.5 * trigger_worth:
        errors.append(("backlog_end", backlog, trigger_worth))
    read_errors = [r for r in reads if r["error"]]
    if read_errors:
        errors.append(("reads", read_errors[:3]))

    # ---- metrics -----------------------------------------------------
    # freshness comes from events created in the steady window: the swap
    # phase's stall shows in engine.swap_s, and would otherwise set the
    # figure by how its few seconds happened to fall. Reads and batches
    # count from the first applied batch to the generator's stop.
    fresh = [vis[s][0] - vis[s][1] for s in good if s in vis and vis[s][1] >= t_steady]
    acks = [(e["acked"] - e["due"]) * 1000 for e in acked.values()]
    read_ms = [r["s"] * 1000 for r in reads if not r["error"] and r["t"] <= t_gen_end]
    e2e = {
        # the stream's cold start plus the three swaps: from the first
        # query's start until the last chain has caught up
        "cold_s": t_steady - t_query,
        "pass_s": median(walls[1:]),
        "op_mean_ms": fmean(read_ms),
        "op_p50_ms": pct(read_ms, 50),
        "op_p90_ms": pct(read_ms, 90),
        "ack_p50_ms": pct(acks, 50),
        "ack_p90_ms": pct(acks, 90),
        "fresh_p50_s": pct(fresh, 50),
        "fresh_p90_s": pct(fresh, 90),
    }
    swap_s = []
    for w in swaps:
        applied = [b["vis"] for b in batches if b["rows"] and b["rows"][0][2] == w["k"]]
        if applied:
            swap_s.append(min(applied) - w["publish"])
    n_stored = max(len(stored), 1)
    layer = {}
    if ctx.trace:
        by = {k: [r["s"] * 1000 for r in reads if r["kind"] == k and r["traced"] and not r["error"]]
              for k in READS}
        layer.update({
            "docs.sink.batch_s_p50": pct(walls, 50),
            "docs.sink.batch_s_p90": pct(walls, 90),
            "docs.sink.rows_per_batch": median(len(b["rows"]) + len(b["dead"]) for b in batches),
            "docs.sink.batches": len(batches),
            "streaming.graph.idle_s": median(idles),
            "streaming.graph.backlog_end": backlog,
            "gen.lag_ms": pct([(e["sent"] - e["due"]) * 1000 for e in sent], 90),
            "docs.store.latest_ms": median(by["latest"]),
            "docs.store.entity_ms": median(by["entity"]),
            "docs.store.as_of_ms": median(by["as_of"]),
            "docs.store.history_ms": median(by["history"]),
            "docs.datalog.q_ms": median(by["datalog"]),
            "docs.store.versions_per_event": store.versions.count() / n_stored,
            "docs.sink.durable_bytes_per_event": _du(os.path.join(d, "user_db")) / n_stored,
            "streaming.collector.ack_ms": pct([(e["acked"] - e["sent"]) * 1000 for e in acked.values()], 50),
            "engine.create_function_ms": median(w["create_s"] * 1000 for w in swaps),
            "streaming.graph.restart_s": median(w["restart_s"] for w in swaps),
            "engine.swap_s": median(swap_s) if swap_s else 0.0,
            "trace.overhead_s": (
                median(r["s"] for r in reads if r["traced"]) - median(r["s"] for r in reads if not r["traced"])
            ),
        })
        counts = counter.metrics()
        n_read = sum(1 for r in reads if r["traced"])
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            layer[f"spark.{k}.ingest.batch"] = counts[f"spark.{k}.ingest.batch"] / max(len(batches), 1)
            layer[f"spark.{k}.ingest.read"] = counts[f"spark.{k}.ingest.read"] / max(n_read, 1)
    record = {
        "rate": RATE, "apps": APPS, "events_sent": len(sent), "events_good": len(good),
        "malformed": len(malformed), "batches": len(batches), "reads": len(reads),
        "swap_s": swap_s, "swaps": swaps, "backlog_end": backlog, "trigger_worth": trigger_worth,
        "batch_rows": [len(b["rows"]) for b in batches], "batch_wall_s": walls,
        "batch_start_s": [b["start"] - t_query for b in batches],
        "steady_from_s": t_steady - t_query, "gen_end_s": t_gen_end - t_query,
        "reads_at_s_ms": [(round(r["t"] - t_query, 2), r["kind"], round(r["s"] * 1000)) for r in reads],
        "errors": errors,
    }
    attempted = len(sent) + len(reads) + len(swaps)
    other = [e for e in errors if e[0] not in ("post_status", "stored", "reads")]
    failed = len(bad_status) + len(lost) + len(phantom) + len(read_errors) + len(other)
    return Result(not errors, attempted, failed, e2e, layer, record)
