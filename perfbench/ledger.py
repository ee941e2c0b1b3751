"""Process-tree and Spark status-store readings for the benchmark.

``/proc`` gives CPU and peak memory for the whole process tree (this
driver, the Spark JVM and its Python workers). The traced run adds a
per-layer ledger: every layer's jobs run under ``sc.setJobGroup(layer)``
and their stage rows are read from the in-process status store, which
works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_uptime_s() -> float:
    """Seconds since this process was started (interpreter start-up
    included)."""
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - int(_stat(os.getpid())[19]) / CLK_TCK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_cpu_s(root: int | None = None, python_only: bool = False) -> float:
    """utime+stime+cutime+cstime summed over the tree under ``root``
    (default: this process). ``python_only`` keeps only processes whose
    command name starts with ``python``."""
    total = 0
    for pid in descendants(root or os.getpid()):
        if python_only and not _comm(pid).startswith("python"):
            continue
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the tree, in MB."""
    kb = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _identity(pid: int) -> tuple[int, str] | None:
    """(pid, start time) of a live process; None once it has ended (a
    zombie has ended too). The start time tells a reused pid apart."""
    st = _stat(pid)
    if st is None or st[0] == "Z":
        return None
    return pid, st[19]


def snapshot_children() -> list[tuple[int, str]]:
    """Identities of every live process below this one."""
    me = os.getpid()
    return [i for i in map(_identity, descendants(me)) if i is not None and i[0] != me]


def wait_ended(procs: list[tuple[int, str]], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``procs`` (from ``snapshot_children``)
    has ended; SIGKILL what is left after ``timeout_s`` and wait again."""

    def alive():
        return [p for p in procs if _identity(p[0]) == p]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid, _ in alive():
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)


def jvm_pid(spark) -> int:
    """PID of the Spark driver JVM (a child of this process)."""
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


LAYER_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "jvm_cpu_s": "s",
    "python_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "codegen_compiles": "count",
}

_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class StageLedger:
    """Per-layer Spark ledger for one session.

    Use ``with ledger.layer(name):`` around the calls of one layer; the
    wall time, the Python-worker CPU delta and the codegen compile count
    delta are taken at the span's edges, and the layer's stage rows are
    harvested from the status store when ``harvest()`` runs. Stage rows
    land in the store asynchronously after a job ends, so the harvest
    polls until every stage of the layer's jobs is COMPLETE or SKIPPED.
    The session must retain enough stages (``spark.ui.retainedStages``)
    for the whole traced run.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jvm = jvm
        self._store = self.sc._jsc.sc().statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module
        )
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._jvm_pid = jvm_pid(spark)
        self.spans: dict[str, dict] = {}
        self.harvest_s = 0.0

    def _python_cpu(self) -> float:
        return tree_cpu_s(self._jvm_pid, python_only=True)

    @contextlib.contextmanager
    def layer(self, name: str):
        """Run the block's Spark jobs under job group ``name``."""
        self.sc.setJobGroup(name, name)
        cg0, py0, t0 = self._codegen.getCount(), self._python_cpu(), time.monotonic()
        try:
            yield
        finally:
            span = self.spans.setdefault(
                name, {"wall_s": 0.0, "python_cpu_s": 0.0, "codegen_compiles": 0}
            )
            span["wall_s"] += time.monotonic() - t0
            span["python_cpu_s"] += self._python_cpu() - py0
            span["codegen_compiles"] += self._codegen.getCount() - cg0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _json(self, jobj) -> list:
        return json.loads(self._mapper.writeValueAsString(jobj))

    def _jobs(self) -> list:
        return self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def _stages(self) -> list:
        empty = self.sc._gateway.new_array(self._jvm.double, 0)
        return self._json(
            self._store.stageList(
                self._jvm.java.util.ArrayList(), False, False, empty,
                self._jvm.java.util.ArrayList(),
            )
        )

    def harvest(self, layers: dict[str, str], timeout_s: float = 30.0) -> dict:
        """Stage totals per layer -> {layer: {field: value}} with every
        ``LAYER_FIELDS`` key; ``layers`` maps each layer to the job group
        its jobs ran under. Raises TimeoutError if stage rows do not
        settle in time (the ledger would be incomplete)."""
        groups = set(layers.values())
        t0 = time.monotonic()
        deadline = t0 + timeout_s
        while True:
            jobs = [j for j in self._jobs() if j.get("jobGroup") in groups]
            wanted = {s for j in jobs for s in j["stageIds"]}
            rows = [s for s in self._stages() if s["stageId"] in wanted]
            seen = {s["stageId"] for s in rows}
            if seen == wanted and all(s["status"] in _DONE_STAGE for s in rows):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"status store did not settle for {groups}: "
                    f"{len(wanted - seen)} stage rows missing"
                )
            time.sleep(0.05)
        out = {}
        for layer, group in layers.items():
            g_jobs = [j for j in jobs if j.get("jobGroup") == group]
            ids = {s for j in g_jobs for s in j["stageIds"]}
            ran = [s for s in rows if s["stageId"] in ids and s["status"] != "SKIPPED"]
            span = self.spans.get(layer, {})
            out[layer] = {
                "wall_s": span.get("wall_s", 0.0),
                "jobs": len(g_jobs),
                "stages": len(ran),
                "tasks": sum(s["numCompleteTasks"] for s in ran),
                "jvm_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
                "python_cpu_s": span.get("python_cpu_s", 0.0),
                "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / 2**20,
                "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 2**20,
                "spill_mb": sum(s["diskBytesSpilled"] for s in ran) / 2**20,
                "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
                "codegen_compiles": span.get("codegen_compiles", 0),
            }
        self.harvest_s += time.monotonic() - t0
        return out
