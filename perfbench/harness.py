"""Shared plumbing for the benchmark: host sizing, the Spark session,
the outside RSS sampler and process bookkeeping, and the summary
statistics.

Everything here observes the engine from outside. The engine itself is
reached only through its public entry points (``get_spark``,
``generate_changes``, ``CDCRunner``, ``LakeTable``, ``TableReplicator``
and ``QUERIES``).
"""

from __future__ import annotations

import math
import os
import threading
import time


def host_cores() -> int:
    """Cores this process may run on (cgroup/affinity aware ``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """Driver heap sized from host memory: an eighth of it, kept between
    1 and 4 GiB. The engine's own default (48g) is sized for a large
    host; on a small shared one it would let the JVM grow past what the
    machine can spare."""
    return max(1024, min(4096, host_mem_mb() // 8))


def start_session(work: str, cores: int, event_log_dir: str | None = None):
    """One local Spark process sized to the host. Scratch, temp files and
    the optional event log all live under ``work``."""
    from dbp_etl_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        # hsperfdata would otherwise land in /tmp regardless of tmpdir
        # a fixed-size heap and few malloc arenas keep the peak RSS from
        # depending on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_heap_mb()}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )


# ---------------------------------------------------------- RSS sampler


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process under ``pid``."""
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until each of ``pids`` has exited; kill what outlives
    ``timeout``."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and _state(pid) not in ("Z", None):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return None


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and the Python workers under it,
    sampled from /proc on a thread. The JVM is this process's child
    running the ``java`` binary; a worker is a process under it running
    ``pyspark.daemon`` or ``pyspark.worker``. Any other child of the JVM
    is skipped: between vfork and exec it shares the JVM's memory (and
    command line) and would count the JVM twice.

    The sampler only runs inside ``with`` blocks, and may be entered
    several times; the peak is over all of them. Workloads open it around
    their measured work only, so warm-up and checks do not set it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> int:
        total = 0
        for jvm in _children(os.getpid()):
            try:
                if os.path.basename(os.readlink(f"/proc/{jvm}/exe")) != "java":
                    continue
            except OSError:
                continue
            total += _rss_kb(jvm)
            for p in descendants(jvm):
                cmd = _cmdline(p)
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    total += _rss_kb(p)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        # the last stretch of the window, shorter than one interval
        self.peak_kb = max(self.peak_kb, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------- statistics


def hd_quantile(s: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile (0 < p < 1) of the
    sorted samples ``s``: every sample weighted by the Beta(p(n+1),
    (1-p)(n+1)) mass of its rank's interval. A single order statistic
    jumps from run to run when few samples lie close around it, as the
    23 distinct queries' walls do. The median of one or two samples is
    the plain median."""
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 200  # midpoint rule per rank interval
    h = 1.0 / (n * steps)
    weights = [
        h * sum(
            math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
            for x in ((i * steps + k + 0.5) * h for k in range(steps))
        )
        for i in range(n)
    ]
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def summarize(samples: list[float]) -> dict:
    """Median and tail of a list of timings, as Harrell-Davis estimates.
    The tail is the highest percentile that still has at least ten
    samples beyond it; with ten samples or fewer there is none, and the
    maximum is reported. The tail's percentile and the sample count come
    with it."""
    s = sorted(samples)
    n = len(s)
    idx = n - 11 if n > 10 else n - 1
    return {
        "p50": hd_quantile(s, 0.5),
        "tail": hd_quantile(s, (idx + 1) / n) if n > 10 else s[-1],
        "tail_pct": 100.0 * (idx + 1) / n,
        "n": n,
    }


def run_passes(
    seconds: float, one_pass, once: bool, max_passes: int | None = None
) -> list[dict]:
    """Run whole passes until the next one would end past ``seconds``
    (always at least one, at most ``max_passes``; exactly one if
    ``once``). Each pass's dict gets its wall time as ``wall``."""
    passes: list[dict] = []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        p = one_pass()
        p["wall"] = time.perf_counter() - t0
        passes.append(p)
        if (
            once
            or len(passes) == max_passes
            or (time.perf_counter() - t_start) + p["wall"] > seconds
        ):
            return passes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def fmt_value(v: float) -> str:
    if float(v).is_integer():
        return str(int(v))
    return f"{v:.6g}"
