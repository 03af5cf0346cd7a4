"""Measurement plumbing shared by the workloads: the run directory,
core pinning, an explicitly sized SparkSession, host facts, outside
samplers (process-tree RSS, bytes written under directories), spans,
and the Spark event-log parser behind the per-tag counters."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import threading
import time

CORES = 4  # local[c]; the run is pinned to the first c allowed cpus
DRIVER_MEM = "2g"
_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


def pin_cores() -> list[int]:
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)
    return cpus


# sources whose code produces the derived inputs (store warehouse,
# first refresh snapshot, relational reference triples)
CODE_DIRS = ("dbpedia_spotlight_db_spark", "jobs", "perfbench")


def code_hash(checkout: str) -> str:
    """Hash of every .py file under CODE_DIRS (paths and contents)."""
    h = hashlib.sha256()
    for top in CODE_DIRS:
        for base, dirs, files in os.walk(os.path.join(checkout, top)):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(base, fn)
                    h.update(os.path.relpath(p, checkout).encode() + b"\0")
                    with open(p, "rb") as f:
                        h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


class RunDir:
    """Everything a run writes lives under ``<checkout>/.perfbench``:
    the generated inputs (kept across runs, keyed by seed and generator
    parameters), the inputs derived from them by the package (kept
    across runs, keyed by the code as well, so a code change never
    reuses another version's stores or snapshots) and one scratch
    directory per run (removed at exit). Warehouse, checkpoints, Spark
    local dirs, the event log and JVM temp files share that one
    filesystem."""

    def __init__(self, checkout: str):
        self.root = os.path.join(checkout, ".perfbench")
        self.cache = os.path.join(self.root, "inputs")
        self.derived = os.path.join(self.root, "derived", code_hash(checkout))
        self.run = os.path.join(self.root, f"run-{os.getpid()}")
        self.warehouse = os.path.join(self.run, "warehouse")
        self.ckpt = os.path.join(self.run, "ckpt")
        self.local = os.path.join(self.run, "local")
        self.eventlog = os.path.join(self.run, "eventlog")
        self.tmp = os.path.join(self.run, "tmp")
        for d in (self.cache, self.derived, self.warehouse, self.ckpt, self.local,
                  self.eventlog, self.tmp):
            os.makedirs(d, exist_ok=True)

    @property
    def written_dirs(self) -> list[str]:
        # parquet_checkpoint writes under spark.local.dir/spark_graft_ckpt
        return [self.warehouse, self.ckpt, os.path.join(self.local, "spark_graft_ckpt")]

    def close(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def session_conf(rd: RunDir, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": rd.local,
        "spark.sql.warehouse.dir": os.path.join(rd.run, "spark-warehouse"),
        # a fixed, pre-touched heap: the JVM's share of peak RSS is then
        # its configured size, not an accident of when G1 last grew it
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={rd.tmp} -Xms{DRIVER_MEM} "
                                          "-XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": rd.eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def prepare_env(rd: RunDir) -> None:
    """Environment the session factory and Spark read: pin every knob
    session.py takes from the environment so the host's settings never
    leak into a run, and keep temp files inside the run directory."""
    for k in ("SPARK_GRAFT_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEM",
              "SPARK_ARROW_BATCH", "SPARK_GRAFT_CPUS", "SPARK_EXECUTOR_DIRS"):
        os.environ.pop(k, None)
    os.environ["SPARK_LOCAL_DIRS"] = rd.local  # overrides spark.local.dir when set
    os.environ["TMPDIR"] = rd.tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def get_session(rd: RunDir, trace: bool):
    from dbpedia_spotlight_db_spark.session import get_spark

    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                      extra_conf=session_conf(rd, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_info(spark, rd: RunDir, cpus: list[int]) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    fs = "?"
    best = ""
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, typ = line.split()[:3]
            if rd.run.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, f"{typ} on {mnt}"
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cores": CORES,
        "pinned_cpus": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_memory": DRIVER_MEM,
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "filesystem": fs,
    }


# ---------------------------------------------------------------------------
# outside samplers
# ---------------------------------------------------------------------------
def stolen_s(cpus: list[int]) -> float:
    """Seconds since boot that the hypervisor ran other guests while
    ``cpus`` had work to run (/proc/stat steal), averaged over ``cpus``:
    the wall time an interval lost to a shared host."""
    want = {f"cpu{c}" for c in cpus}
    with open("/proc/stat") as f:
        steal = sum(int(cols[8]) for cols in map(str.split, f) if cols[0] in want)
    return steal / _CLK / len(cpus)


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        pid, fields = int(name), tail.split()
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * _PAGE
        comm[pid] = head.split("(", 1)[1]
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        if comm.get(pid) == "java":
            # a JVM child still running the JVM's executable is a fork
            # that has not exec'd yet (process-spawn helpers, named after
            # the forking thread): it shares the JVM's pages, and counting
            # them again would report a phantom second heap
            exe = _exe(pid)
            kids = [k for k in kids if _exe(k) != exe]
        total += rss.get(pid, 0)
        todo.extend(kids)
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc on a background thread.

    The peak is the highest level held over two consecutive samples: a
    process the JVM spawns can be read with the JVM's pages (before its
    exec) and its new executable (after), which reads as a second heap
    for one sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append(_tree_rss_bytes(me))
            self._stop.wait(self.interval)

    @property
    def peak(self) -> int:
        return max(map(min, zip(self.samples, self.samples[1:])), default=0)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.samples.append(_tree_rss_bytes(os.getpid()))


def snapshot(dirs: list[str]) -> dict[str, int]:
    out = {}
    for d in dirs:
        for base, _, files in os.walk(d):
            for fn in files:
                p = os.path.join(base, fn)
                try:
                    out[p] = os.stat(p).st_size
                except OSError:
                    pass
    return out


def bytes_written(before: dict[str, int], dirs: list[str]) -> int:
    """Bytes in files that are new or grew since ``before``."""
    after = snapshot(dirs)
    return sum(max(0, s - before.get(p, 0)) for p, s in after.items())


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent). When enabled, each
    span also sets the Spark job description to its tag, so the event
    log attributes the jobs it submits; disabled, it records nothing
    and touches no Spark state."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "tag": tag, "start": time.perf_counter(), "end": None,
               "parent": parent}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description")
        if tag:
            self.sc.setJobDescription(tag)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0


# ---------------------------------------------------------------------------
# Spark event log -> per-tag counters
# ---------------------------------------------------------------------------
def spark_counters(eventlog_dir: str, per: dict[str, int]) -> dict[str, float]:
    """Parse the uncompressed event log into counters per job
    description (tag). ``per[tag]`` divides a tag's totals (traced jobs
    or set-ups); skew is the worst stage's slowest task over its median
    task. Only tasks of tagged stages count."""
    stage_tag: dict[tuple, str] = {}
    tasks: dict[str, list[dict]] = {t: [] for t in per}
    failed = 0
    wait_ms = 0
    for fn in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, fn)) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerStageSubmitted":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    si = e["Stage Info"]
                    if desc in tasks:
                        stage_tag[(fn, si["Stage ID"], si["Stage Attempt ID"])] = desc
                elif ev == "SparkListenerTaskEnd":
                    tag = stage_tag.get((fn, e["Stage ID"], e["Stage Attempt ID"]))
                    if tag is None:
                        continue
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    failed += bool(ti.get("Failed"))
                    dur = ti["Finish Time"] - ti["Launch Time"]
                    run = tm.get("Executor Run Time", 0)
                    wait_ms += max(0, dur - run - tm.get("Executor Deserialize Time", 0)
                                   - tm.get("Result Serialization Time", 0))
                    py = sum(int(a.get("Update") or 0) for a in ti.get("Accumulables", [])
                             if a.get("Name") == "data sent to Python workers")
                    tasks[tag].append({
                        "stage": (fn, e["Stage ID"]),
                        "dur": dur,
                        "run": run,
                        "gc": tm.get("JVM GC Time", 0),
                        "shuffle": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "py_bytes": py,
                    })
    out: dict[str, float] = {}
    for tag, ts in tasks.items():
        n = max(1, per[tag])
        by_stage: dict[tuple, list[int]] = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        skews = [max(d) / max(1.0, statistics.median(d)) for d in by_stage.values() if len(d) > 1]
        out[f"{tag}.task_s"] = sum(t["run"] for t in ts) / 1000 / n
        out[f"{tag}.tasks"] = len(ts) / n
        out[f"{tag}.shuffle_write_bytes"] = sum(t["shuffle"] for t in ts) / n
        out[f"{tag}.spill_bytes"] = sum(t["spill"] for t in ts) / n
        out[f"{tag}.gc_s"] = sum(t["gc"] for t in ts) / 1000 / n
        out[f"{tag}.task_skew"] = max(skews) if skews else (1.0 if ts else 0.0)
        out[f"{tag}.python_bytes"] = sum(t["py_bytes"] for t in ts) / n
    out["spark.failed_tasks"] = failed
    out["spark.task_wait_s"] = wait_ms / 1000
    return out
