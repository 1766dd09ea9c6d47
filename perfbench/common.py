"""Pieces shared by the load generator (run.py and the workload modules)
and the program processes: the checkout layout, the line protocol
between the two processes, an SSE socket reader, and small statistics."""

from __future__ import annotations

import json
import os
import select
import shutil
import signal
import socket
import subprocess
import sys
import time
from datetime import datetime, timezone
from urllib.parse import quote

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MSG_PREFIX = "@@perfbench "


class BenchError(RuntimeError):
    """The run could not be completed (the program did not start, answer
    or finish in time)."""


def require_checkout() -> None:
    """Fail fast unless the program's source sits next to the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, "kinesis2sse_spark", "__init__.py")):
        raise BenchError(f"no kinesis2sse_spark package under {ROOT}")


def make_work_dir(workload: str) -> str:
    d = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def split_cpus() -> tuple[set[int] | None, set[int] | None]:
    """(generator CPUs, program CPUs): the generator on the last CPU, the
    program on all the others, so neither preempts the other; no split on
    a single CPU."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 2:
        return None, None
    return {cpus[-1]}, set(cpus[:-1])


def driver_mem() -> str:
    """Spark driver heap: a quarter of RAM, at most 4 GiB — the package's
    24g default is larger than small machines."""
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(total_gib // 4)))}g"


def program_env(work: str) -> dict[str, str]:
    """Environment of a program process: every temporary file inside the
    run's work directory, UTC wall clock, Spark sized to this machine."""
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        # every JVM (spark-submit's launcher too): temp files in the work
        # directory, no hsperfdata file under the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYTHONHASHSEED="0",
    )
    return env


# -- line protocol ---------------------------------------------------------
def emit(kind: str, **fields) -> None:
    """Program side: one protocol message on stdout."""
    sys.stdout.write(MSG_PREFIX + json.dumps({"kind": kind, **fields}) + "\n")
    sys.stdout.flush()


def commands():
    """Program side: protocol commands from the generator, one per line."""
    for line in sys.stdin:
        line = line.strip()
        if line:
            yield json.loads(line)


class Program:
    """The program under test in its own process (and process group),
    driven over stdin/stdout; its stderr goes to a log file."""

    def __init__(self, module: str, args: list[str], work: str, cpus: set[int] | None = None) -> None:
        self.log_path = os.path.join(work, f"{module.rsplit('.', 1)[-1]}.log")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", module, *args],
            cwd=ROOT,
            env=program_env(work),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            start_new_session=True,
            # the generator is single-threaded, so setting the affinity
            # between fork and exec is safe
            preexec_fn=(lambda: os.sched_setaffinity(0, cpus)) if cpus else None,
        )
        self._buf = b""

    def send(self, kind: str, **fields) -> None:
        self.proc.stdin.write((json.dumps({"kind": kind, **fields}) + "\n").encode())
        self.proc.stdin.flush()

    def recv(self, kind: str, timeout: float) -> dict:
        """Next protocol message, which must be of ``kind``."""
        deadline = time.monotonic() + timeout
        fd = self.proc.stdout.fileno()
        prefix = MSG_PREFIX.encode()
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                if line.startswith(prefix):
                    msg = json.loads(line[len(prefix):])
                    if msg["kind"] != kind:
                        raise BenchError(f"expected {kind!r} from the program, got {msg!r}")
                    return msg
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError(f"program sent no {kind!r} within {timeout:.0f} s{self.log_tail()}")
            ready, _, _ = select.select([fd], [], [], left)
            if ready:
                chunk = os.read(fd, 65536)
                if not chunk:
                    raise BenchError(f"program exited before {kind!r}{self.log_tail()}")
                self._buf += chunk

    def log_tail(self, n: int = 2000) -> str:
        try:
            with open(self.log_path, "rb") as f:
                f.seek(0, os.SEEK_END)
                f.seek(max(0, f.tell() - n))
                return "\n--- program log tail ---\n" + f.read().decode(errors="replace")
        except OSError:
            return ""

    def close(self, timeout: float = 30.0) -> None:
        """Wait for the program to exit, then make sure nothing of its
        process group (the JVM and its Python workers) outlives it."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self._signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self._signal(signal.SIGKILL)
                self.proc.wait()
        deadline = time.monotonic() + 20
        while self._group_alive():
            if time.monotonic() > deadline:
                self._signal(signal.SIGKILL)
                if time.monotonic() > deadline + 20:
                    raise BenchError("the program's process group did not exit")
            time.sleep(0.05)
        self.proc.stdout.close()
        self._log.close()

    def _signal(self, sig) -> None:
        try:
            os.killpg(self.proc.pid, sig)
        except ProcessLookupError:
            pass

    def _group_alive(self) -> bool:
        try:
            os.killpg(self.proc.pid, 0)
        except ProcessLookupError:
            return False
        return True


# -- SSE client --------------------------------------------------------------
class SseConn:
    """One SSE connection read in chunks without blocking. ``feed`` returns
    the complete ``(id, data)`` frames of one ``recv`` and its arrival time;
    parsing stays minimal so the reader is not the bottleneck."""

    def __init__(self, port: int, path: str, since: str | None = None) -> None:
        self.t_connect = time.monotonic_ns()
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        query = f"?since={quote(since)}" if since is not None else ""
        self.sock.sendall(
            f"GET {path}{query} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
            "Accept: text/event-stream\r\n\r\n".encode()
        )
        self.sock.setblocking(False)
        self._buf = b""
        self._head = True
        self.recvs = 0
        self.frames = 0
        self.bytes = 0
        self.closed = False

    def fileno(self) -> int:
        return self.sock.fileno()

    def feed(self) -> tuple[list[tuple[int, bytes]], int]:
        try:
            chunk = self.sock.recv(1 << 20)
        except BlockingIOError:
            return [], time.monotonic_ns()
        now = time.monotonic_ns()
        if not chunk:
            self.close()
            return [], now
        self.recvs += 1
        self.bytes += len(chunk)
        buf = self._buf + chunk
        if self._head:
            end = buf.find(b"\r\n\r\n")
            if end < 0:
                self._buf = buf
                return [], now
            if not buf.startswith(b"HTTP/1.1 200"):
                raise BenchError(f"SSE request refused: {buf[:end]!r}")
            buf = buf[end + 4:]
            self._head = False
        parts = buf.split(b"\n\n")
        self._buf = parts.pop()
        frames = []
        for f in parts:
            if f[:1] == b":":  # comment (the ":ok" preamble)
                continue
            nl = f.find(b"\n")
            frames.append((int(f[4:nl]), f[nl + 7:]))
        self.frames += len(frames)
        return frames, now

    def close(self) -> None:
        if not self.closed:
            self.closed = True
            self.sock.close()


def http_get_json(port: int, path: str, timeout: float = 10.0):
    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
        s.sendall(f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n".encode())
        data = b""
        while chunk := s.recv(65536):
            data += chunk
    head, _, body = data.partition(b"\r\n\r\n")
    if not head.startswith(b"HTTP/1.1 200"):
        raise BenchError(f"GET {path} failed: {head[:80]!r}")
    return json.loads(body)


# -- small helpers -------------------------------------------------------------
def rfc3339_ms(epoch_ms: int) -> str:
    dt = datetime.fromtimestamp(epoch_ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of an empty sample")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


STRETCH_S = 2.0  # length of one stretch of the measured window
CALM = 0.01  # a stretch in which the host took at most this share is calm


def host_cpu_times() -> list[int] | None:
    """The machine's CPU time counters (``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal), or None where they cannot be read."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def stolen_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of the time this machine's CPUs wanted to run that the host
    gave to other guests (``steal`` over busy time plus ``steal``)."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy > 0 else 0.0


class QuietWindow:
    """The measured window ``[t0, t1)`` in stretches of about STRETCH_S.

    The machine is a guest on a shared host: when other guests run, every
    figure of the program gets worse, and the host's ``steal`` counter
    says when. ``tick`` reads the counters at each stretch boundary; the
    figures are then taken over the quieter half of the stretches, the
    ones with the least stolen share (all of them when the counters
    cannot be read, and every calm stretch when at least half are calm)."""

    def __init__(self, t0: int, t1: int) -> None:
        self.t0, self.t1 = t0, t1
        self.n = max(2, round((t1 - t0) / 1e9 / STRETCH_S))
        self.width = (t1 - t0) / self.n
        self.readings: list[list[int] | None] = []

    def tick(self, now: int) -> int:
        """Read the counters if a boundary has passed; returns the next
        boundary (or ``t1``)."""
        while len(self.readings) <= self.n and now >= self.t0 + len(self.readings) * self.width:
            self.readings.append(host_cpu_times())
        return int(self.t0 + min(len(self.readings), self.n) * self.width)

    @property
    def done(self) -> bool:
        return len(self.readings) > self.n

    def stolen(self) -> list[float | None]:
        return [stolen_share(a, b) for a, b in zip(self.readings, self.readings[1:])]

    def quiet(self) -> list[int]:
        """Indices of the stretches the figures are taken over."""
        stolen = self.stolen()
        if len(stolen) < self.n or None in stolen:
            return list(range(self.n))
        calm = [k for k in range(self.n) if stolen[k] <= CALM]
        if len(calm) >= self.n // 2:
            return calm
        return sorted(sorted(range(self.n), key=stolen.__getitem__)[: self.n // 2])

    def stretch(self, t: int) -> int | None:
        return min(self.n - 1, int((t - self.t0) / self.width)) if self.t0 <= t < self.t1 else None

    def values(self, samples) -> list[float]:
        """Values of the ``(t, value)`` samples timed in a quiet stretch."""
        keep = set(self.quiet())
        return [v for t, v in samples if self.stretch(t) in keep]

    def rate(self, counts: list[int]) -> float:
        """Events per second over the quiet stretches, from per-stretch counts."""
        keep = self.quiet()
        return sum(counts[k] for k in keep) / (len(keep) * self.width / 1e9)


def _tree(pid: int):
    """``pid`` and every process below it, as they are now."""
    stack = [pid]
    while stack:
        p = stack.pop()
        yield p
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue


def peak_rss_mib(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every process
    below it — the program's whole tree, JVM and Python workers included."""
    total_kib = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kib / 1024


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every process below it, the
    children they have reaped included. The kernel leaves out the time the
    host gave to other guests (``steal``), so a rate per CPU second holds
    where a rate per wall second drops with the host's load."""
    ticks = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
