"""live_ingest: the live tick feed through both stateful operators.

Two streaming queries read the same JSONL directory
(``streaming.jobs.read_tick_stream``): ``streaming.stateful.phase_machine``
into a parquet event lake and ``sessionize_games`` into a session lake.
Set-up starts the session and both queries and lets them commit the first
file. Phase 1 drops a fixed backlog of files at once and times its drain.
Phase 2 is an open loop: one file per ``INTERVAL_S`` at a fixed offered
rate for ``--seconds`` seconds, each tick's lag taken from the time its
file was due to the commit of the batch that held it in both lakes. Both
lakes are then checked against the generator's ground truth.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import time

import common
import gen

N_FEEDS = 8
TICKS_PER_FILE = 32  # per feed: 256 ticks per file before duplicates
BACKLOG_FILES = 80
INTERVAL_S = 0.25  # offered rate: 256 / 0.25 = 1,024 ticks/s


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name → batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _stream_layers(name: str, prog: list[dict], drain: tuple[float, float]) -> dict[str, float]:
    """Per-query metrics from its progress reports. Rates come from the
    backlog drain; batch timings from every batch that read input."""
    work = [p for p in prog if p.get("numInputRows", 0) > 0]
    d = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
    in_drain = [p for p in work if drain[0] <= _epoch(p["timestamp"]) <= drain[1]]
    trig = sum(d(p, "triggerExecution") for p in in_drain)
    rows = sum(p["numInputRows"] for p in in_drain)
    state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}
    batch = [d(p, "triggerExecution") for p in work] or [0.0]
    return {
        f"streaming.{name}.rows_per_s": rows / trig if trig else 0.0,
        f"streaming.{name}.add_batch_share": (
            sum(d(p, "addBatch") for p in in_drain) / trig if trig else 0.0
        ),
        f"streaming.{name}.batch_p50_s": common.percentile(batch, 50),
        f"streaming.{name}.batch_p90_s": common.percentile(batch, 90),
        f"streaming.{name}.offsets_s": statistics.median(
            [d(p, "latestOffset") + d(p, "walCommit") for p in work] or [0.0]
        ),
        f"streaming.{name}.commit_s": statistics.median(
            [d(p, "commitOffsets") for p in work] or [0.0]
        ),
        f"streaming.{name}.state_rows": float(state.get("numRowsTotal", 0)),
        f"streaming.{name}.state_mb": state.get("memoryUsedBytes", 0) / (1024.0 * 1024.0),
        f"streaming.{name}.batches": float(len(work)),
    }


def _check(plan: gen.TickPlan, lake: str, inject_wrong: bool) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): one op per tick row in the event
    lake and one per finalized game in the session lake. ``inject_wrong``
    corrupts one game read back from the lake before it is compared."""
    import pyarrow.dataset as ds

    problems: list[str] = []
    phases = ds.dataset(os.path.join(lake, "phases"), format="parquet").to_table(
        columns=["session_id", "seq", "phase", "games_seen", "rug_count"]
    ).to_pylist()
    got: dict = {}
    final: dict = {}
    for r in phases:
        key = (r["session_id"], r["seq"])
        phase, n = got.get(key, (r["phase"], 0))
        got[key] = (phase if phase == r["phase"] else "MIXED", n + 1)
        g, c = final.get(r["session_id"], (0, 0))
        final[r["session_id"]] = (max(g, r["games_seen"]), max(c, r["rug_count"]))
    bad_rows = sum(
        n for k, (ph, n) in plan.expected_phases.items() if got.get(k) != (ph, n)
    ) + sum(n for k, (_, n) in got.items() if k not in plan.expected_phases)
    if bad_rows:
        problems.append(f"{bad_rows} phase rows differ from the ground truth")
    if final != plan.expected_feeds:
        problems.append("per-feed games_seen / rug_count differ from the ground truth")

    sessions = ds.dataset(os.path.join(lake, "sessions"), format="parquet").to_table(
        columns=["session_id", "game_id", "n_ticks", "peak_price", "n_backfilled"]
    ).to_pylist()
    if inject_wrong and sessions:
        sessions[0]["n_ticks"] += 1
    games = {(r["session_id"], r["game_id"]): r for r in sessions}
    bad_games = len(set(games) ^ set(plan.expected_games))
    for key, (n, peak, nb) in plan.expected_games.items():
        r = games.get(key)
        if r and (r["n_ticks"] != n or abs(r["peak_price"] - peak) > 1e-9 or r["n_backfilled"] != nb):
            bad_games += 1
    if bad_games:
        problems.append(f"{bad_games} games differ from the ground truth")
    if len(sessions) != len(games):
        problems.append("a game was emitted twice")
        bad_games += len(sessions) - len(games)
    attempted = plan.n_rows + len(plan.expected_games)
    return attempted, min(attempted, bad_rows + bad_games), problems


def run(ctx: common.Ctx) -> dict:
    feeds, per_file = (2, 16) if ctx.smoke else (N_FEEDS, TICKS_PER_FILE)
    backlog = 4 if ctx.smoke else BACKLOG_FILES
    n_open = max(1, int(round(ctx.seconds / INTERVAL_S)))
    plan = gen.TickPlan(ctx.seed, feeds, per_file * (backlog + n_open), per_file)
    src, lake, ckpt = ctx.path("stream", "in"), ctx.path("stream", "lake"), ctx.path("stream", "ckpt")
    os.makedirs(src)

    mem = common.MemSampler(ctx.trace)
    t_setup = time.perf_counter()
    spark, start_s = common.start_session(ctx)
    from vectra_player_spark.streaming.jobs import read_tick_stream
    from vectra_player_spark.streaming.stateful import phase_machine, sessionize_games

    with ctx.tracer.span("start_queries", "streaming"):
        queries = {}
        for name, op in (("phase_machine", phase_machine), ("sessionize", sessionize_games)):
            queries[name] = (
                op(read_tick_stream(spark, src))
                .writeStream.format("parquet")
                .queryName(name)
                .option("path", os.path.join(lake, "phases" if name == "phase_machine" else "sessions"))
                .option("checkpointLocation", os.path.join(ckpt, name))
                .outputMode("append")
                .start()
            )
        plan.write_file(src, 0)
        for q in queries.values():
            q.processAllAvailable()
    setup_s = time.perf_counter() - t_setup

    # Phase 1: the backlog lands at once; time until both lakes hold it.
    for k in range(1, backlog):
        plan.write_file(src, k)
    rows_backlog = sum(len(plan.files[k]) for k in range(1, backlog))
    drain_t0 = time.time()
    t0 = time.perf_counter()
    with ctx.tracer.span("drain_backlog", "streaming"):
        for q in queries.values():
            q.processAllAvailable()
    drain_s = time.perf_counter() - t0
    drain_t1 = time.time()

    # Phase 2: open loop at a fixed offered rate.
    due: dict[str, float] = {}
    written: dict[str, float] = {}
    start = time.time() + INTERVAL_S
    with ctx.tracer.span("open_loop", "streaming"):
        for k in range(backlog, len(plan.files)):
            when = start + (k - backlog) * INTERVAL_S
            pause = when - time.time()
            if pause > 0:
                time.sleep(pause)
            name = os.path.basename(plan.write_file(src, k))
            due[name], written[name] = when, time.time()
        for q in queries.values():
            q.processAllAvailable()
    loop_t1 = time.time()

    prog = {n: _progress(q) for n, q in queries.items()}
    for q in queries.values():
        q.stop()
    peak = mem.stop()
    spark.stop()

    # lag of a file = commit of the later of the two batches that held it;
    # a file some query never reported committing counts until the end
    commits: dict[str, list[float]] = {}
    for name in queries:
        ends = {
            p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
            for p in prog[name]
        }
        for fname, b in _file_batches(os.path.join(ckpt, name)).items():
            if fname in due and b in ends:
                commits.setdefault(fname, []).append(ends[b])
    committed = {f: max(c) for f, c in commits.items() if len(c) == len(queries)}
    lags: list[float] = []
    files_idx = {f"ticks_{k:06d}.json": k for k in range(len(plan.files))}
    for fname, t_due in due.items():
        lag = committed.get(fname, loop_t1) - t_due
        lags += [lag] * len(plan.files[files_idx[fname]])
    backlog_max = max(
        sum(1 for f, w in written.items() if w <= t and committed.get(f, loop_t1) > t)
        for t in written.values()
    )

    attempted, failed, problems = _check(plan, lake, ctx.inject_wrong)
    layers = {
        "session.start_s": start_s,
        "mem.peak_pss_mb": peak,
        "gen.backlog_files_max": float(backlog_max),
        "gen.late_s_max": max(w - due[f] for f, w in written.items()),
    }
    for name in queries:
        layers.update(_stream_layers(name, prog[name], (drain_t0, drain_t1)))
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "spark_windows": [(drain_t0, loop_t1)],
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_s": common.percentile(lags, 50),
            "latency_p90_s": common.percentile(lags, 90),
            "throughput_per_s": rows_backlog / drain_s,
            "build_s": drain_s,
            "disk_mb": common.dir_mb(ctx.path("stream")) - common.dir_mb(src),
        },
        "layers": layers,
        "samples": f"{len(lags)} ticks in {len(due)} open-loop files",
    }
