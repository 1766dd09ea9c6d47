"""Load generator of the ``ingest`` workload: the Spark product path.

One file-directory route (capacity 100,000, ``TRIM_HORIZON``) in the
program process (perfbench/ingest_program.py). Two phases on one warm
service:

- drain, closed loop: a seeded backlog of parquet files, 2.6 times the
  capacity, lands before start and is read 64 files per micro-batch. The
  program notes when each batch's last valid envelope gets its offset,
  and its process tree's CPU seconds by then; the drain rate is taken
  over the batches that start on a full log, in which every append
  evicts: their envelopes per CPU second (and, in the detail line, per
  wall second) from the end of the batch before them to the last one;
- live, open loop: files of 100 records land at seeded exponential
  intervals (1,000 records/s on average) by atomic rename; three
  default-cursor SSE connections read the stream, and one ``?since=``
  replay session at a time reads 2,000 frames from a seeded offset
  inside the retained window. Freshness is the time from a file's due
  landing instant (stamped inside its envelopes) to each ``data:``
  frame. The figures are taken over the quieter half of the measured
  window (see ``common.QuietWindow``).

Afterwards one replay from the epoch checks the whole retained window,
and the route's counters are reconciled with the generator's own counts,
which are known by construction.

Input make-up: nested objects with unsorted keys, arrays, non-ASCII and
escaped strings, integers, booleans and ``null`` details; 2% malformed
records split across the four reject reasons; 5% KPL aggregates (a JSON
array of 2-4 envelopes); event time strictly increasing (base + valid
index ms), so offsets map one-to-one onto generation order. No floats:
Java, Go and Python format them differently, so an expected value made
here would have to copy the program's choice.
"""

from __future__ import annotations

import json
import os
import random
import selectors
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import (
    BenchError,
    Program,
    STRETCH_S,
    QuietWindow,
    SseConn,
    http_get_json,
    quantile,
    rfc3339_ms,
)

ROUTE = "/ingest"
CAPACITY = 100_000
BACKLOG_FILES = 320  # ~259k valid envelopes, 2.6x capacity, in 5 micro-batches
RECORDS_PER_FILE = 750
FILES_PER_TRIGGER = 64  # RouteConfig's default: each micro-batch stays below capacity
LIVE_RECORDS_PER_FILE = 100
LIVE_FILES_PER_S = 10.0  # 1,000 records/s
WARMUP_S = 5.0  # the drain has already warmed the JIT
CLIENTS = 3
REPLAY_EVERY_S = 0.25  # one replay session at a time, started this often
REPLAY_FRAMES = 2_000
REPLAY_MARGIN = 10_000  # replays start this far inside the retained window
ROUND = round(STRETCH_S / REPLAY_EVERY_S)  # replay strata: one round per stretch
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
MALFORMED = 0.02
AGGREGATED = 0.05

STRINGS = [
    "héllo wörld",
    "東京 タワー",
    "naïve café",
    "Ωmega ≈ ∑",
    "emoji 🚀 ok",
    'quote " and \\ backslash',
    "tab\tand\nnewline",
    "<a href='x'>/</a>",
]
BAD_TIMES = ["yesterday", "2024-01-01", "2024-01-01 00:00:00Z", 1704067200]


def _canon(obj) -> str:
    """Key-sorted compact JSON, the canonical detail form."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


class Templates:
    """Seeded detail shapes. A dict detail gets the record's sequence
    number (key ``zz``) and, for live records, its landing stamp (``zl``);
    both sort after every template key, so the canonical form is the
    template's with the two fields appended — cheap for 300k records."""

    def __init__(self, rng: random.Random, n: int = 64) -> None:
        self.items = []  # (wire, canonical, is a dict: wire and canonical are bodies)
        for k in range(n):
            if k == 0:
                d = None
            elif k == 1:
                d = [k, rng.choice(STRINGS), {"b": rng.randint(-5, 5), "a": [True, None]}]
            else:
                d = {
                    "user": {
                        "name": rng.choice(STRINGS),
                        "id": rng.randint(0, 10**6),
                        "tags": [rng.choice(STRINGS) for _ in range(rng.randint(0, 3))],
                    },
                    "big": rng.randint(-(2**62), 2**62),
                    "ok": rng.random() < 0.5,
                    "a": {"y": [rng.randint(-9, 9) for _ in range(rng.randint(0, 4))], "n": None},
                    "kind": rng.choice(STRINGS),
                }
            ascii_wire = rng.random() < 0.5
            if isinstance(d, dict):
                wire = json.dumps(d, ensure_ascii=ascii_wire)[1:-1]  # body, unsorted keys
                self.items.append((wire, _canon(d)[1:-1], True))
            else:
                self.items.append((json.dumps(d, ensure_ascii=ascii_wire), _canon(d), False))

    def envelope(self, k: int, v: int, land: int | None) -> tuple[str, str]:
        """Wire record and canonical detail of valid envelope ``v``."""
        wire, canon, is_dict = self.items[k]
        t = rfc3339_ms(BASE_MS + v)
        if not is_dict:
            return f'{{"detail":{wire},"time":"{t}"}}', canon
        if land is None:
            return (f'{{"time":"{t}","detail":{{"zz":{v},{wire}}}}}',
                    f'{{{canon},"zz":{v}}}')
        return (f'{{"time":"{t}","detail":{{"zz":{v},"zl":{land},{wire}}}}}',
                f'{{{canon},"zl":{land},"zz":{v}}}')


class Inputs:
    """Seeded record stream; keeps the expected canonical detail of every
    valid envelope (index = offset) and the counts reconciliation needs."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.tpl = Templates(self.rng)
        self.expected: list[bytes] = []
        self.records = 0
        self.malformed = 0

    def plan(self, n: int) -> list[tuple]:
        """Draw ``n`` record shapes: ("bad", reason, k) or ("ok", [k, ...])."""
        rng, out = self.rng, []
        n_tpl = len(self.tpl.items)
        for _ in range(n):
            r = rng.random()
            if r < MALFORMED:
                out.append(("bad", rng.randrange(4), rng.randrange(len(BAD_TIMES))))
            elif r < MALFORMED + AGGREGATED:
                out.append(("ok", [rng.randrange(n_tpl) for _ in range(rng.randint(2, 4))]))
            else:
                out.append(("ok", [rng.randrange(n_tpl)]))
        return out

    def render(self, plan: list[tuple], land: int | None = None) -> list[str]:
        out = []
        for shape in plan:
            self.records += 1
            if shape[0] == "bad":
                self.malformed += 1
                out.append(self._bad(shape[1], shape[2]))
                continue
            envs = []
            for k in shape[1]:
                wire, canon = self.tpl.envelope(k, len(self.expected), land)
                self.expected.append(canon.encode())
                envs.append(wire)
            out.append(envs[0] if len(envs) == 1 else "[" + ",".join(envs) + "]")
        return out

    def _bad(self, reason: int, k: int) -> str:
        t = rfc3339_ms(BASE_MS + len(self.expected))
        if reason == 0:  # invalid_json
            return ["bogus", '{"time":"' + t + '","detail":', "{'detail': 1}", "[1,"][k]
        if reason == 1:  # missing_time
            return json.dumps({"detail": {"k": k}})
        if reason == 2:  # bad_time
            return json.dumps({"time": BAD_TIMES[k], "detail": {"k": k}})
        return json.dumps({"time": t, "other": k})  # missing_detail

    @property
    def envelopes(self) -> int:
        """Envelopes after KPL de-aggregation, malformed records included."""
        return len(self.expected) + self.malformed


def write_file(path: str, stage: str, values: list[str], mtime_ns: int) -> None:
    """Write a one-column parquet file next to the source directory and
    rename it in, so the file source never sees a partial file."""
    tmp = os.path.join(stage, os.path.basename(path))
    pq.write_table(pa.table({"value": pa.array(values, pa.string())}), tmp)
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, path)


class Reader:
    """Checks one SSE connection against the expected offsets and details."""

    def __init__(self, conn: SseConn, first: int, expected: list[bytes], errors: list[str],
                 name: str) -> None:
        self.conn, self.next, self.expected = conn, first, expected
        self.errors, self.name = errors, name
        self.first_frame_ns = 0
        self.good = 0

    def take(self, frames, now: int, on_frame=None) -> None:
        for i, data in frames:
            if self.first_frame_ns == 0:
                self.first_frame_ns = now
            if i != self.next:
                self.errors.append(f"{self.name}: id {i}, expected {self.next}")
            elif i >= len(self.expected) or data != self.expected[i]:
                self.errors.append(f"{self.name}: detail of id {i} is {data[:60]!r}")
            else:
                self.good += 1
                if on_frame is not None:
                    on_frame(i, now)
            self.next = i + 1


def run(seed: int, seconds: int, spans_out: str | None, work: str) -> dict:
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    inputs = Inputs(seed)
    mtime = time.time_ns() - 3_600_000_000_000
    marks = []  # valid envelopes landed by the end of each backlog micro-batch
    for f in range(BACKLOG_FILES):
        values = inputs.render(inputs.plan(RECORDS_PER_FILE))
        write_file(os.path.join(src, f"b{f:05d}.parquet"), stage, values, mtime)
        mtime += 1_000_000  # distinct ms mtimes keep the files in order
        if (f + 1) % FILES_PER_TRIGGER == 0 or f + 1 == BACKLOG_FILES:
            marks.append(len(inputs.expected))

    args = ["--src", src, "--marks", ",".join(map(str, marks)),
            "--backlog-records", str(inputs.records)]
    if spans_out:
        args += ["--spans-out", spans_out]
    prog = Program("perfbench.ingest_program", args, work)
    try:
        return _drive(prog, inputs, seed, seconds, src, stage, mtime, marks)
    finally:
        prog.close()


class Replay(Reader):
    """A ``?since=`` replay session: reads ``want - first`` frames, then
    hangs up."""

    def __init__(self, port: int, first: int, want: int, expected, errors) -> None:
        since = rfc3339_ms(BASE_MS + first)
        super().__init__(SseConn(port, ROUTE, since=since), first, expected, errors,
                         f"replay since {since}")
        self.want = want

    def take(self, frames, now: int, on_frame=None) -> None:
        super().take([f for f in frames if f[0] < self.want], now, on_frame)

    @property
    def done(self) -> bool:
        return self.next >= self.want or self.conn.closed


def _drive(prog, inputs: Inputs, seed: int, seconds: int, src: str, stage: str, mtime: int,
           marks: list[int]) -> dict:
    errors: list[str] = []
    ready = prog.recv("ready", timeout=120)
    port = ready["port"]
    drained = prog.recv("drained", timeout=180)
    backlog_valid = marks[-1]
    # Closed-loop drain rate over the micro-batches that start on a full
    # log, in which every append evicts: their valid envelopes over the
    # program's CPU time (and wall time) from the previous batch's last
    # offset to the last batch's. Per-batch rates go to the detail line.
    marks_s, marks_cpu = drained["marks_s"], drained["marks_cpu_s"]
    evicting = [k for k in range(1, len(marks)) if marks[k - 1] >= CAPACITY]
    if len(evicting) < 3:
        raise BenchError(f"only {len(evicting)} backlog micro-batches start on a full log")
    k0 = evicting[0] - 1
    drain_cpu_eps = (marks[-1] - marks[k0]) / (marks_cpu[-1] - marks_cpu[k0])
    drain_eps = (marks[-1] - marks[k0]) / (marks_s[-1] - marks_s[k0])
    batch_eps = [(marks[k] - marks[k - 1]) / (marks_s[k] - marks_s[k - 1]) for k in evicting]
    batch_cpu_eps = [(marks[k] - marks[k - 1]) / (marks_cpu[k] - marks_cpu[k - 1]) for k in evicting]

    # -- live phase ----------------------------------------------------------
    rng = random.Random(seed ^ 0x5EED)
    n_files = int((WARMUP_S + seconds) * LIVE_FILES_PER_S)
    plans = [inputs.plan(LIVE_RECORDS_PER_FILE) for _ in range(n_files)]
    sel = selectors.DefaultSelector()
    readers = []
    for c in range(CLIENTS):
        r = Reader(SseConn(port, ROUTE), backlog_valid - 1, inputs.expected, errors, f"live{c}")
        sel.register(r.conn, selectors.EVENT_READ, r)
        readers.append(r)
    deadline = time.monotonic() + 30
    while any(r.next < backlog_valid for r in readers):  # attached: newest entry seen
        if time.monotonic() > deadline:
            raise BenchError("live connections got no first frame")
        for key, _ in sel.select(1.0):
            key.data.take(*key.fileobj.feed())

    offset_file: list[int] = []  # live offset - backlog_valid -> file index
    dues: list[int] = []
    due = time.monotonic_ns() + 100_000_000
    for _ in range(n_files):
        due += int(rng.expovariate(LIVE_FILES_PER_S) * 1e9)
        dues.append(due)
    t_window = dues[0] + int(WARMUP_S * 1e9)
    t_end = t_window + seconds * 1_000_000_000
    window = QuietWindow(t_window, t_end)
    fresh: list[tuple[int, float]] = []  # (file due, ms to a frame of it)

    def on_frame(i, now):
        if i >= backlog_valid:
            d = dues[offset_file[i - backlog_valid]]
            if d >= t_window:
                fresh.append((d, (now - d) / 1e6))

    # Replays run one at a time through the measured window, one in each
    # slot of REPLAY_EVERY_S. A replay's first frame costs more the
    # further back it starts (read_from copies the rest of the window), so
    # the slots of each stretch hold one round: a seeded start in each of
    # ROUND strata of the retained window, well inside it, as eviction
    # goes on meanwhile. Every stretch thus replays the same mix.
    rrng = random.Random(seed ^ 0xA5)
    slot_ns = int(REPLAY_EVERY_S * 1e9)
    n_slots = (t_end - t_window) // slot_ns
    strata: list[int] = []
    while len(strata) < n_slots:
        rnd = list(range(ROUND))
        rrng.shuffle(rnd)
        strata.extend(rnd)
    replay: Replay | None = None
    next_slot = 0
    replay_first: list[tuple[int, float]] = []  # (connect, ms to first frame)
    replay_expected = 0
    failed = 0

    def start_replay(slot: int) -> Replay:
        nonlocal replay_expected
        head = min(r.next for r in readers) - 1  # every entry up to here is retained
        lo = head + 1 - CAPACITY + REPLAY_MARGIN
        hi = head + 1 - REPLAY_FRAMES
        first = lo + int((hi - lo) * (strata[slot] + rrng.random()) / ROUND)
        rp = Replay(port, first, first + REPLAY_FRAMES, inputs.expected, errors)
        sel.register(rp.conn, selectors.EVENT_READ, rp)
        replay_expected += REPLAY_FRAMES
        return rp

    def end_replay(rp: Replay) -> None:
        nonlocal failed
        sel.unregister(rp.conn)
        rp.conn.close()
        failed += REPLAY_FRAMES - rp.good
        if rp.first_frame_ns:
            replay_first.append((rp.conn.t_connect, (rp.first_frame_ns - rp.conn.t_connect) / 1e6))

    cpu0 = time.process_time()
    late_ns: list[int] = []
    landed = 0
    while True:
        now = time.monotonic_ns()
        boundary = window.tick(now)
        if landed < n_files and now >= dues[landed]:
            n0 = len(inputs.expected)
            values = inputs.render(plans[landed], land=dues[landed])
            offset_file.extend([landed] * (len(inputs.expected) - n0))
            mtime = max(time.time_ns(), mtime + 1_000_000)
            write_file(os.path.join(src, f"l{landed:05d}.parquet"), stage, values, mtime)
            late_ns.append(time.monotonic_ns() - dues[landed])
            landed += 1
            continue
        if replay is None and next_slot < n_slots and now >= t_window + next_slot * slot_ns:
            slot = max(next_slot, (now - t_window) // slot_ns)  # a slot spent waiting is skipped
            if slot < n_slots:
                replay = start_replay(slot)
            next_slot = slot + 1
        total = len(inputs.expected)
        if landed == n_files:
            if replay is None and all(r.next >= total for r in readers) and window.done:
                break
            if now > dues[-1] + 60_000_000_000:  # the program stopped sending: count the rest failed
                if replay is not None:
                    end_replay(replay)
                    replay = None
                break
        wake = [dues[landed]] if landed < n_files else [now + 200_000_000]
        if replay is None and next_slot < n_slots:
            wake.append(t_window + next_slot * slot_ns)
        if not window.done:
            wake.append(boundary)
        for key, _ in sel.select(max((min(wake) - now) / 1e9, 0.0)):
            if key.data is not replay:
                key.data.take(*key.fileobj.feed(), on_frame)
                continue
            replay.take(*replay.conn.feed())
            if replay.done:
                end_replay(replay)
                replay = None
    cpu_s = time.process_time() - cpu0
    total = len(inputs.expected)
    live_expected = total - (backlog_valid - 1)  # from the newest backlog entry on
    failed += sum(live_expected - r.good for r in readers)
    for r in readers:
        sel.unregister(r.conn)
        r.conn.close()

    # -- the whole retained window, once -------------------------------------
    oldest = total - CAPACITY
    full = Reader(SseConn(port, ROUTE, since="1970-01-01T00:00:00Z"), oldest, inputs.expected,
                  errors, "replay since the epoch")
    deadline = time.monotonic() + 60
    while full.next < total and not full.conn.closed and time.monotonic() < deadline:
        if select_one(full.conn, 1.0):
            full.take(*full.conn.feed())
    full.conn.close()
    failed += CAPACITY - full.good

    # -- reconciliation ------------------------------------------------------
    # the route's progress counters arrive after its last push returns
    deadline = time.monotonic() + 10
    while True:
        rows = http_get_json(port, "/metrics").get("route_ingest", {}).get("rows")
        if rows == inputs.records or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    prog.send("stop", records=inputs.records, t_window_ns=t_window)
    result = prog.recv("result", timeout=60)
    checks = {
        "next_offset == valid envelopes": (result["next_offset"], total),
        "/metrics rows == records landed": (rows, inputs.records),
        "observed n_records == envelopes": (result["n_records"], inputs.envelopes),
        "observed n_dropped == malformed": (result["n_dropped"], inputs.malformed),
        "rows in == served + dropped": (result["n_records"], result["next_offset"] + result["n_dropped"]),
    }
    for what, (got, want) in checks.items():
        if got != want:
            errors.append(f"{what}: {got} != {want}")

    fresh_ms = [v for t, v in fresh if t < t_end]
    fresh_quiet = window.values(fresh)
    first_quiet = window.values(replay_first)
    late_p90_ms = quantile(late_ns, 0.9) / 1e6
    detail = {
        "drain_envelopes_per_cpu_s": drain_cpu_eps,
        "drain_batch_envelopes_per_cpu_s": batch_cpu_eps,
        "drain_eps": drain_eps,
        "drain_batch_eps": batch_eps,
        "drain_batches_evicting": len(evicting),
        "drain_envelopes_evicting": marks[-1] - marks[k0],
        "drain_first_batch_s": marks_s[0],
        "drain_s": marks_s[-1],
        "drain_eps_whole_drain": backlog_valid / marks_s[-1],
        "backlog_valid": backlog_valid,
        "freshness_p50_ms": statistics.median(fresh_quiet),
        "freshness_p90_ms": quantile(fresh_quiet, 0.9),
        "freshness_samples": len(fresh_quiet),
        "freshness_p50_ms_whole_window": statistics.median(fresh_ms),
        "freshness_p90_ms_whole_window": quantile(fresh_ms, 0.9),
        "first_frame_p50_ms": statistics.median(first_quiet),
        "first_frame_samples": len(first_quiet),
        "first_frame_p50_ms_whole_window": statistics.median(v for _, v in replay_first),
        "quiet_stretches": window.quiet(),
        "host_stolen_by_stretch": window.stolen(),
        "live_files": n_files,
        "live_envelopes": total - backlog_valid,
        "frames_expected_per_connection": live_expected,
        "frames_received_per_connection": [r.good for r in readers],
        "replays": len(replay_first),
        "live_batch_p50_ms": statistics.median(result["live_batch_ms"]),
        "drain_batch_ms": result["drain_batch_ms"],
        "records": inputs.records,
        "malformed": inputs.malformed,
        "setup_session_s": ready["session_s"],
        "setup_app_start_s": ready["app_start_s"],
        "loadgen_late_p90_ms": late_p90_ms,
        "loadgen_cpu_s": cpu_s,
    }
    layer = dict(result["layer"])
    conns = [r.conn for r in readers]
    frames = sum(c.frames for c in conns)
    layer.update({
        "setup.session_s": ready["session_s"],
        "setup.app_start_s": ready["app_start_s"],
        "drain.first_batch_s": marks_s[0],
        "http.frames": frames,
        "http.bytes": sum(c.bytes for c in conns),
        "http.frames_per_recv": frames / max(1, sum(c.recvs for c in conns)),
        "loadgen.late_p90_ms": late_p90_ms,
        "loadgen.cpu_s": cpu_s,
    })
    return {
        "errors": errors,
        "attempted": CLIENTS * live_expected + replay_expected + CAPACITY,
        "failed": failed,
        "behind": late_p90_ms > 20,
        "e2e": {
            "setup_s": ready["setup_s"],
            "peak_rss_mb": result["peak_rss_mib"],
            "events_per_cpu_s": detail["drain_envelopes_per_cpu_s"],
            "freshness_p50_ms": detail["freshness_p50_ms"],
            "first_frame_p50_ms": detail["first_frame_p50_ms"],
        },
        "layer": layer,
        "detail": detail,
    }


def select_one(conn: SseConn, timeout: float) -> bool:
    with selectors.DefaultSelector() as sel:
        sel.register(conn, selectors.EVENT_READ)
        return bool(sel.select(timeout))
