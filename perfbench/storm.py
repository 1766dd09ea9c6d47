"""Load generator of the ``replay_storm`` workload: the pure serving path.

The program (perfbench/storm_program.py) holds one route at capacity
1,000,000 and appends 250 envelopes/s in micro-batches, so every append
evicts. This process holds ``min(3, nproc - 1)`` replay connections in a
closed loop plus one live-tail connection, all read by one thread:

- a replay session picks a seeded lag of 1..50,000 events behind the
  head last seen on the live tail, asks for ``?since=`` the event time of
  that offset (event time is base + offset ms, so the first id is known
  in advance), reads up to the head it saw at connect, and disconnects;
- the live tail uses the default cursor and must see every appended row
  exactly once; its latency is the writer's stamp to the frame's arrival.

The replay rate is replayed frames per CPU second of the program over
the whole measured window; the latencies are taken over the quieter half
of the window (see ``common.QuietWindow``).
"""

from __future__ import annotations

import os
import random
import selectors
import statistics
import time

from perfbench.common import (
    BenchError,
    Program,
    QuietWindow,
    SseConn,
    cpu_count,
    quantile,
    rfc3339_ms,
    split_cpus,
    tree_cpu_s,
)

CAPACITY = 1_000_000
RATE = 250.0  # envelopes/s appended by the writer
BATCH = 25  # rows per writer micro-batch
MAX_LAG = 50_000  # how far behind the head a replay session starts
LAGS_PER_ROUND = 12  # one lag from each of 12 equal strata of 1..MAX_LAG
SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_S = 0.5  # live-tail samples stamped earlier are discarded
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
ROUTE = "/storm"


def lags(rng: random.Random):
    """Session lags in rounds: every round holds one seeded lag from each
    stratum of 1..MAX_LAG in seeded order, so every run replays the same
    mix of short and long sessions."""
    while True:
        rnd = [int(MAX_LAG * (j + rng.random()) / LAGS_PER_ROUND) + 1 for j in range(LAGS_PER_ROUND)]
        rng.shuffle(rnd)
        yield from rnd


class Session:
    def __init__(self, port: int, first: int, last: int) -> None:
        self.first, self.last = first, last
        self.next = first
        self.ok = True  # every id and payload as expected so far
        self.t_first_ns = 0
        self.conn = SseConn(port, ROUTE, since=rfc3339_ms(BASE_MS + first))


def run(seed: int, seconds: int, spans_out: str | None, work: str) -> dict:
    rng = random.Random(seed)
    # The generator on a CPU of its own, the program on the others. Held
    # to one CPU, the program's replay threads starved its writer, which
    # fell up to 1.3 s behind its schedule (lateness p50).
    gen_cpus, prog_cpus = split_cpus()
    # one connection per CPU at most: 3 replay + 1 live on 4 CPUs
    n_replay = max(1, min(3, cpu_count() - 1))
    args = ["--seed", str(seed)]
    if spans_out:
        args += ["--spans-out", spans_out]
    prog = Program("perfbench.storm_program", args, work, cpus=prog_cpus)
    if gen_cpus:
        os.sched_setaffinity(0, gen_cpus)
    try:
        return _drive(prog, lags(rng), n_replay, seconds)
    finally:
        prog.close()


def _drive(prog: Program, lag_seq, n_replay: int, seconds: int) -> dict:
    ready = prog.recv("ready", timeout=150)
    port = ready["port"]
    head = ready["next_offset"] - 1
    errors: list[str] = []

    sel = selectors.DefaultSelector()
    live = SseConn(port, ROUTE)
    sel.register(live, selectors.EVENT_READ, None)
    live_next = head  # default cursor: the newest retained entry first
    live_good = 0  # appended rows received in order with their own payload
    live_samples: list[tuple[int, int]] = []  # (writer stamp, arrival) ns

    def on_live(frames, now):
        nonlocal live_next, live_good
        for i, data in frames:
            ok = i == live_next and data.startswith(b'{"i":%d,' % i)
            if i != live_next:
                errors.append(f"live tail: id {i}, expected {live_next}")
            elif not ok:
                errors.append(f"live tail: payload of id {i} is {data[:40]!r}")
            if i > head:
                live_good += ok
                live_samples.append((int(data[data.rfind(b":") + 1:-1]), now))
            live_next = i + 1

    # the tail is attached once the newest prefill entry arrives
    deadline = time.monotonic() + 30
    while live_next == head:
        if time.monotonic() > deadline:
            raise BenchError("live tail got no first frame")
        for _ in sel.select(1.0):
            on_live(*live.feed())

    cpu0 = time.process_time()
    prog_cpu0 = tree_cpu_s(prog.proc.pid)
    prog_cpu = None  # the program's CPU seconds over the measured window
    t0 = time.monotonic_ns()
    t_end = t0 + seconds * 1_000_000_000
    prog.send("go", t_ns=t0)

    sessions_done: list[Session] = []
    window = QuietWindow(t0, t_end)
    stretch_frames = [0] * window.n  # replayed frames by the stretch they arrived in
    turn_ns: list[int] = []

    def start_session():
        last = live_next - 1
        s = Session(port, last - min(next(lag_seq), MAX_LAG) + 1, last)
        sel.register(s.conn, selectors.EVENT_READ, s)

    for _ in range(n_replay):
        start_session()
    active = n_replay
    boundary = window.tick(t0)
    while active:
        if time.monotonic_ns() > t_end + 60_000_000_000:  # the program stopped sending
            for key in list(sel.get_map().values()):
                if key.data is not None:
                    errors.append(f"replay from {key.data.first}: stalled at {key.data.next}")
                    sel.unregister(key.fileobj)
                    key.fileobj.close()
                    sessions_done.append(key.data)
            break
        wait = 0.1 if window.done else min(0.1, max(0.0, (boundary - time.monotonic_ns()) / 1e9))
        events = sel.select(wait)
        t_turn = time.monotonic_ns()
        boundary = window.tick(t_turn)
        if prog_cpu is None and window.done:
            prog_cpu = tree_cpu_s(prog.proc.pid) - prog_cpu0
        for key, _ in events:
            sess = key.data
            frames, now = key.fileobj.feed()
            if sess is None:
                on_live(frames, now)
                continue
            if key.fileobj.closed:
                errors.append(f"replay from {sess.first}: closed at {sess.next}")
            n0 = sess.next
            for i, data in frames:
                if i != sess.next or not data.startswith(b'{"i":%d,' % i):
                    errors.append(f"replay from {sess.first}: id {i} payload {data[:30]!r}, expected id {sess.next}")
                    sess.ok = False
                if sess.t_first_ns == 0:
                    sess.t_first_ns = now
                sess.next = i + 1
                if i >= sess.last:
                    break
            k = window.stretch(now)
            if k is not None:
                stretch_frames[k] += sess.next - n0
            if sess.next > sess.last or key.fileobj.closed:
                sel.unregister(key.fileobj)
                key.fileobj.close()
                sessions_done.append(sess)
                active -= 1
                if time.monotonic_ns() < t_end:
                    start_session()
                    active += 1
        if events:
            turn_ns.append(time.monotonic_ns() - t_turn)
    t_storm = time.monotonic_ns()
    while not window.done:  # the last boundary, if the sessions ended before it
        time.sleep(max(0.0, (window.tick(time.monotonic_ns()) - time.monotonic_ns()) / 1e9))
    if prog_cpu is None:
        prog_cpu = tree_cpu_s(prog.proc.pid) - prog_cpu0
    cpu_s = time.process_time() - cpu0

    prog.send("stop")
    stopped = prog.recv("stopped", timeout=30)
    final = stopped["next_offset"]
    deadline = time.monotonic() + 15
    while live_next < final and time.monotonic() < deadline:
        for _ in sel.select(0.5):
            on_live(*live.feed())
    live.close()
    prog.send("exit")
    result = prog.recv("result", timeout=60)

    written = final - head - 1
    missing = max(0, final - live_next)
    if missing:
        errors.append(f"live tail: {missing} of {written} appended rows never arrived")
    # a session fails if it returned a wrong id or payload or ended before its head
    failed_sessions = sum(not s.ok or s.next <= s.last for s in sessions_done)
    t_live = t0 + int(WARMUP_S * 1e9)
    fresh = [(w, (now - w) / 1e6) for w, now in live_samples if t_live <= w < t_end]
    fresh_ms = [v for _, v in fresh]
    first = [(s.conn.t_connect, (s.t_first_ns - s.conn.t_connect) / 1e6)
             for s in sessions_done if s.t_first_ns]
    live_quiet = window.values(fresh)
    first_quiet = window.values(first)
    late_p90_ms = quantile(turn_ns, 0.9) / 1e6 if turn_ns else 0.0
    detail = {
        "replay_frames_per_cpu_s": sum(stretch_frames) / prog_cpu,
        "replay_frames": sum(stretch_frames),
        "program_cpu_s": prog_cpu,
        "replay_eps": window.rate(stretch_frames),
        "replay_eps_whole_window": sum(stretch_frames) / seconds,
        "sessions": len(sessions_done),
        "replay_connections": n_replay,
        "first_frame_p50_ms": statistics.median(first_quiet),
        "first_frame_samples": len(first_quiet),
        "first_frame_p50_ms_whole_window": statistics.median(v for _, v in first),
        "live_p50_ms": statistics.median(live_quiet),
        "live_p90_ms": quantile(live_quiet, 0.9),
        "live_samples": len(live_quiet),
        "live_p50_ms_whole_window": statistics.median(fresh_ms),
        "live_p90_ms_whole_window": quantile(fresh_ms, 0.9),
        "quiet_stretches": window.quiet(),
        "host_stolen_by_stretch": window.stolen(),
        "setup_s_samples": ready["setup_s"],
        "writer_late_p50_ms": stopped["late_p50_ms"],
        "writer_late_p90_ms": stopped["late_p90_ms"],
        "writer_batches": stopped["batches"],
        "loadgen_turn_p90_ms": late_p90_ms,
        "loadgen_cpu_s": cpu_s,
        "drain_after_window_s": (t_storm - t_end) / 1e9,
    }
    conns = [s.conn for s in sessions_done] + [live]
    frames = sum(c.frames for c in conns)
    layer = dict(result["layer"])
    layer.update({
        "setup.prefill_s": statistics.median(ready["setup_s"]),
        "writer.late_p90_ms": stopped["late_p90_ms"],
        "http.frames": frames,
        "http.bytes": sum(c.bytes for c in conns),
        "http.frames_per_recv": frames / max(1, sum(c.recvs for c in conns)),
        "loadgen.late_p90_ms": late_p90_ms,
        "loadgen.cpu_s": cpu_s,
    })
    return {
        "errors": errors,
        "attempted": len(sessions_done) + written,
        "failed": failed_sessions + written - live_good,
        "behind": late_p90_ms > 50 or stopped["late_p90_ms"] > 100,
        "e2e": {
            "setup_s": statistics.median(ready["setup_s"]),
            "peak_rss_mb": result["peak_rss_mib"],
            "events_per_cpu_s": detail["replay_frames_per_cpu_s"],
            "freshness_p50_ms": detail["live_p50_ms"],
            "first_frame_p50_ms": detail["first_frame_p50_ms"],
        },
        "layer": layer,
        "detail": detail,
    }
