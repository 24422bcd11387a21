"""The load side: remote-write sender, downstream receiver, SUT control.

Everything here runs in the benchmark process, apart from the system
under test, which ``Sut`` starts in a session of its own and always ends,
with every process it started.
"""

from __future__ import annotations

import http.client
import os
import queue
import signal
import subprocess
import sys
import threading
import time
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Downstream:
    """The remote-write endpoint the consume pipeline POSTs to. It stores
    (arrival time, tenant header, body) and answers 200; decoding happens
    off the request path, in ``take``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._got: list = []
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
                now = time.time()
                tenant = self.headers.get("X-Scope-OrgID", "")
                with outer._lock:
                    outer._got.append((now, tenant, body))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}/api/v1/push"

    def take(self) -> list:
        """POSTs received since the last call."""
        with self._lock:
            got, self._got = self._got, []
        return got

    def close(self):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)


class Sender:
    """Sends POSTs over at most ``connections`` persistent connections.

    With ``t0``, an open loop: each POST is due at ``t0 + post.due`` and
    is sent then, late or not. Without, each connection sends its next
    POST as soon as the previous one is answered (the warm-up). One
    record per POST: (post, due wall s, send wall s, answer wall s,
    HTTP status)."""

    def __init__(self, port: int, connections: int):
        self.port = port
        self.connections = connections

    def _post(self, conn, post):
        try:
            conn.request("POST", "/write", body=post.body, headers=post.headers)
            resp = conn.getresponse()
            resp.read()
            return resp.status, conn
        except (OSError, http.client.HTTPException):
            conn.close()
            return 0, http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)

    def send(self, posts: list, t0: float | None) -> list:
        """Send every POST in order; returns their records."""
        records: list = [None] * len(posts)
        nxt = iter(range(len(posts)))
        lock = threading.Lock()
        errors: list = []

        def worker():
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            try:
                while True:
                    with lock:
                        i = next(nxt, None)
                    if i is None:
                        return
                    post = posts[i]
                    due = None
                    if t0 is not None:
                        due = t0 + post.due
                        delay = due - time.time()
                        if delay > 0:
                            time.sleep(delay)
                    start = time.time()
                    status, conn = self._post(conn, post)
                    records[i] = (post, due if due is not None else start,
                                  start, time.time(), status)
            except Exception as exc:  # noqa: BLE001 -- re-raised by send()
                errors.append(exc)
            finally:
                conn.close()

        threads = [threading.Thread(target=worker, daemon=True)
                   for _ in range(self.connections)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return records


def free_port() -> int:
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _processes() -> dict:
    """pid -> (ppid, pgid, comm, state, [utime, stime, cutime, cstime])."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # f[0] is stat field 3 (state); utime..cstime are fields 14-17
        out[int(pid)] = (int(f[1]), int(f[2]), comm, f[0],
                         [int(x) for x in f[11:15]])
    return out


def _tree(procs: dict, root: int) -> list:
    """The root and all its descendants."""
    children: dict = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _is_spark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark" in cmd or b"perfbench" in cmd


def kill_groups(pgids) -> None:
    """SIGKILL every process of the groups and wait until none is alive."""
    pgids = set(pgids)
    deadline = time.time() + 10
    while time.time() < deadline:
        alive = [
            (pid, pgid) for pid, (_pp, pgid, _c, state, _t) in _processes().items()
            if pgid in pgids and state != "Z"
        ]
        if not alive:
            return
        for pgid in {g for _p, g in alive}:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
        time.sleep(0.05)


class Sut:
    """The system-under-test process (``sut.py``) and everything it starts.

    Spark's Python worker daemon moves itself into a process group of its
    own, so the SUT spans several groups. Every group seen in the SUT's
    process tree is recorded in a pidfile in the output directory: a run
    killed before its own cleanup cannot leave a SUT behind to share the
    next run's files, because the next run ends those groups first."""

    def __init__(self, out_dir: str, work: str, port: int, downstream: str,
                 cores: int, trace: bool, app_flags: list):
        self.pidfile = os.path.join(out_dir, "sut.pgid")
        self.port = port
        self._log = open(os.path.join(work, "sut.log"), "wb")
        env = dict(os.environ)
        env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        env["TMPDIR"] = work
        cmd = [sys.executable, os.path.join(HERE, "sut.py"), f"--work={work}",
               f"--port={port}", f"--downstream={downstream}",
               f"--cores={cores}", f"--trace={int(trace)}"]
        cmd += [f"--app-flag={f}" for f in app_flags]
        self.launched = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, start_new_session=True, text=True,
        )
        self.pgids = {self.proc.pid}
        self._save_pgids()
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _save_pgids(self) -> None:
        with open(self.pidfile, "w") as fh:
            fh.write("\n".join(str(g) for g in sorted(self.pgids)) + "\n")

    def _tree(self) -> list:
        procs = _processes()
        pids = _tree(procs, self.proc.pid)
        groups = {procs[p][1] for p in pids}
        if not groups <= self.pgids:
            self.pgids |= groups
            self._save_pgids()
        return [(p, procs[p]) for p in pids]

    def cpu(self) -> dict:
        """CPU seconds of the JVM and of the Python processes (driver,
        worker daemon, workers); ended children count through their
        parent's cutime/cstime."""
        out = {"jvm": 0.0, "python": 0.0}
        for _pid, (_pp, _g, comm, _st, times) in self._tree():
            out["jvm" if comm == "java" else "python"] += sum(times) / _TICK
        return out

    def peak_rss_mb(self) -> dict:
        out = {"jvm": 0.0, "python": 0.0}
        for pid, (_pp, _g, comm, _st, _t) in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            out["jvm" if comm == "java" else "python"] += (
                                int(line.split()[1]) / 1024.0
                            )
            except OSError:
                continue
        return out

    def _read(self):
        for line in self.proc.stdout:
            self._lines.put(line.strip())
        self._lines.put(None)

    def wait_line(self, want: str, timeout: float) -> None:
        deadline = time.time() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise TimeoutError(f"SUT did not print {want} in {timeout:.0f}s")
            if line is None:
                raise RuntimeError(f"SUT exited before {want}: {self.log_tail()}")
            if line == want:
                return

    def wait_ready(self, timeout: float) -> float:
        """Seconds from launch until both queries are active and the
        listener answers ``/ready``."""
        self.wait_line("READY", timeout)
        url = f"http://127.0.0.1:{self.port}/ready"
        while True:
            try:
                with urllib.request.urlopen(url, timeout=5) as resp:
                    if resp.status == 200:
                        return time.time() - self.launched
            except OSError:
                time.sleep(0.01)

    def scrape(self) -> str:
        url = f"http://127.0.0.1:{self.port}/metrics"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return resp.read().decode()

    def stop(self, timeout: float) -> None:
        """Ask for a clean stop (the traced run's report is written then)."""
        self.proc.stdin.write("STOP\n")
        self.proc.stdin.flush()
        self.wait_line("STOPPED", timeout)

    def log_tail(self, n: int = 2000) -> str:
        self._log.flush()
        with open(self._log.name, "rb") as fh:
            return fh.read()[-n:].decode(errors="replace")

    def kill(self) -> None:
        if self.proc.poll() is None:
            self._tree()  # record the groups of late-started children
        kill_groups(self.pgids)
        self.proc.wait(timeout=10)
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._log.close()
        os.remove(self.pidfile)


def kill_stale_sut(out_dir: str) -> None:
    """End the process groups a killed earlier run left behind."""
    pidfile = os.path.join(out_dir, "sut.pgid")
    try:
        with open(pidfile) as fh:
            pgids = {int(line) for line in fh if line.strip()}
    except (OSError, ValueError):
        return
    procs = _processes()
    stale = {
        pgid for pid, (_pp, pgid, _c, _s, _t) in procs.items()
        if pgid in pgids and _is_spark(pid)
    }
    kill_groups(stale)
    os.remove(pidfile)
