"""Child processes of a benchmark run: their environment, the
line protocol on their stdin/stdout, /proc sampling, and teardown."""

from __future__ import annotations

import json
import os
import select
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 4)
DRIVER_MEM = "3g"  # the program's 32g default exceeds a 15 GB box


def child_env(work: str, trace: bool) -> dict:
    """Environment of a Spark-owning child: the package importable by
    Python workers, a driver heap that fits the box, no console
    progress bar, every scratch file under ``work``, and (traced runs)
    the UI with enough retained jobs for per-span read-back."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_UI"] = "1" if trace else "0"
    # every JVM (the launcher too): temp files under ``work``, and no
    # hsperfdata files, which the JVM writes to /tmp regardless
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    return env


class Child:
    """A Python child in its own process group, driven by lines on
    stdin and answering JSON lines on stdout; stderr goes to a log."""

    def __init__(self, args: list[str], work: str, trace: bool, log_name: str):
        self.log_path = os.path.join(work, log_name)
        self._log = open(self.log_path, "ab")
        self._seen: list[int] = []
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, *args], cwd=work, env=child_env(work, trace),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True, text=True, bufsize=1,
        )

    def read(self, timeout: float) -> dict:
        """The next JSON line from the child."""
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(f"child silent for {timeout:.0f} s; see {self.log_path}")
            ready, _, _ = select.select([self.proc.stdout], [], [], left)
            if not ready:
                continue
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"child exited ({self.proc.poll()}); see {self.log_path}")
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def pids(self) -> list[int]:
        """Live processes the child started: the child, its JVM and the
        Python workers (pyspark.daemon moves to a process group of its
        own, so descendants are found by parent pid)."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        out, frontier = [], [self.proc.pid] if self.proc.pid in parent else []
        while frontier:
            pid = frontier.pop()
            out.append(pid)
            frontier += [p for p, pp in parent.items() if pp == pid]
        return out

    def close(self, timeout: float = 60.0, fast: bool = False) -> None:
        """Ask the child to stop (``fast``: kill it), then make sure its
        whole process tree is gone. Safe to call again."""
        if self._log.closed:
            return
        self._seen = self.pids()
        try:
            if self.proc.poll() is None and not fast:
                self.send("stop")
                self.proc.wait(timeout=timeout)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            for pid in self._seen + self.pids():
                _kill(pid)
            if self.proc.poll() is None:
                self.proc.wait(timeout=10)
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline and any(_alive(p) for p in self._seen):
                time.sleep(0.1)
            self._log.close()


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class ProcSampler:
    """Samples a child's process group from /proc every ``period``
    seconds: peak RSS of the driver (the child and its JVM) and of the
    Python workers (``pyspark.daemon`` and its forks), and CPU time."""

    def __init__(self, child: Child, period: float = 0.25):
        self.child = child
        self.period = period
        self.driver_rss_peak = 0
        self.worker_rss_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> tuple[int, int, float]:
        driver = worker = 0
        cpu = 0.0
        for pid in self.child.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            rss = int(fields[21]) * self._page
            cpu += sum(int(f) for f in fields[11:15]) / self._tick  # incl. reaped children
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                worker += rss
            else:
                driver += rss
        return driver, worker, cpu

    def cpu_s(self) -> float:
        return self._sample()[2]

    def _run(self) -> None:
        while not self._stop.is_set():
            d, w, _ = self._sample()
            self.driver_rss_peak = max(self.driver_rss_peak, d)
            self.worker_rss_peak = max(self.worker_rss_peak, w)
            self._stop.wait(self.period)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
