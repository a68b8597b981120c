"""Benchmark of the clips quality-filter pipeline, measured from outside.

    python3 perfbench/run.py --workload enrich_long --seed 1 --seconds 30 --trace 0

Each run (1) generates the workload's seeded input in a child process
(``corpora.py``; reused while its ``_SUCCESS`` marker exists), (2) starts
the timed process (``measure.py``, one fresh session) on ``local[<cores>]``
with shuffle partitions and input file count tied to the core count, and
starts another while the next one still fits in ``--seconds``, (3) stops
every process the run started, and (4) prints one detail line (corpus
stats, host load, raw pass walls, check outcomes) and, last, the result
line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, each the median over the
run's sessions. ``--trace 1`` runs one session followed by the traced one
and reports the per-layer metrics instead; the tracing overhead is the
traced pass wall minus the untraced warm pass of the same run.
Every pass's outputs are checked (see ``measure.check_outputs``); ``failed``
counts the passes that failed their check. A pass that raises ends the run
with exit code 1 and no result line.

Everything the run writes goes under ``.perfbench/`` at the repository
root. The layer -> end-to-end metric -> workload map is in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 160  # a run must end within 180 s, reaping included
KEEP_INPUTS = 2  # prepared inputs kept on disk, most recently used first
MB = 1 << 20

# Input clips per core. enrich_long is sized so enrich is as large a share
# of the pass as the run's time allows; dedup_dense is five 96-clip
# families per core.
CLIPS_PER_CORE = {"enrich_long": 400, "dedup_dense": 480}


def host_load() -> dict:
    """loadavg plus the number of OTHER running (R-state) processes, as
    bench.py records them, so a confounded run shows in its output."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        load = None
    running = 0
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "R":
                    running += 1
        except (OSError, IndexError):
            continue
    return {"loadavg": load, "other_running_procs": running}


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host since boot, from
    /proc/stat; their change over a run shows contention the run did not
    cause."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return (user + nice + system + irq + softirq) / tick, steal / tick


def tagged_pids(token: str) -> list[int]:
    """Processes whose environment carries this run's token: the timed
    process, its JVM and the JVM's Python workers."""
    needle = f"PERFBENCH_RUN={token}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def reap(token: str, grace_s: float = 20.0) -> None:
    """Wait for every process of this run to end; kill what outlives the
    grace period."""
    t_end = time.time() + grace_s
    while tagged_pids(token) and time.time() < t_end:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in tagged_pids(token):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        t_end = time.time() + 5
        while tagged_pids(token) and time.time() < t_end:
            time.sleep(0.1)


def driver_memory() -> str:
    """Driver heap well below physical RAM (the session's own default is
    16g, more than some hosts have)."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def child_env(token: str) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN": token,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def prepare(workload: str, seed: int, clips: int, files: int, env: dict,
            deadline: float) -> str:
    from corpora import VERSION

    inputs = os.path.join(WORK, "inputs")
    path = os.path.join(inputs, f"{workload}-v{VERSION}-s{seed}-n{clips}-f{files}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "corpora.py"), workload,
             str(seed), str(clips), str(files), path],
            env=env, check=True, stdout=subprocess.DEVNULL,
            timeout=max(1.0, deadline - time.time()),
        )
    os.utime(path)
    others = sorted(
        (os.path.join(inputs, d) for d in os.listdir(inputs)
         if os.path.join(inputs, d) != path),
        key=os.path.getmtime, reverse=True,
    )
    for old in others[KEEP_INPUTS - 1:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def end_to_end(untraced: list[dict], clips: int) -> dict:
    """Medians over the run's sessions."""
    def med(f) -> float:
        return statistics.median(f(u) for u in untraced)

    wall = med(lambda u: u["pass_walls_s"][0])
    return {
        "clips_per_s": {"value": clips / wall, "unit": "clips/s"},
        "wall_s": {"value": wall, "unit": "s"},
        "setup_s": {"value": med(lambda u: u["setup"]["setup_s"]), "unit": "s"},
        "cached_mb": {"value": med(lambda u: u["cached_bytes"]) / MB, "unit": "MB"},
    }


def per_layer(res: dict, input_bytes: int) -> dict:
    u, t = res["untraced"], res["traced"]
    ev, lay = t["events"], t["layers"]

    def g(group: str, key: str) -> float:
        return ev.get(group, {}).get(key, 0)

    dedup_groups = ("dedup.pairs", "dedup.flags", "dedup.similarity")

    def d(key: str) -> float:
        return sum(g(x, key) for x in dedup_groups)

    walls = [lay[k] for k in ("scan.s", "enrich.s", "persist.s", "dedup.s", "scoring.s")]
    traced_wall = t["pass"]["wall_s"]
    m = {
        "session.start_s": (u["setup"]["start_s"], "s"),
        "session.models_s": (u["setup"]["models_s"], "s"),
        "session.warm_pass_s": (u["pass_walls_s"][1], "s"),
        "scan.s": (lay["scan.s"], "s"),
        "scan.input_mb": (input_bytes / MB, "MB"),
        "scan.tasks": (g("scan", "tasks"), "count"),
        "enrich.s": (lay["enrich.s"], "s"),
        "enrich.cpu_s": (lay["enrich.cpu_s"], "s"),
        "enrich.error_rows": (lay["enrich.error_rows"], "count"),
        **{k: (v, "ms") for k, v in res["micro"].items()},
        "persist.s": (lay["persist.s"], "s"),
        "persist.shuffle_mb": (g("persist", "shuffle_bytes") / MB, "MB"),
        "dedup.s": (lay["dedup.s"], "s"),
        "dedup.flags_s": (lay["dedup.flags_s"], "s"),
        "dedup.similarity_s": (lay["dedup.similarity_s"], "s"),
        "dedup.jobs": (d("jobs"), "count"),
        "dedup.stages": (d("stages"), "count"),
        "dedup.tasks": (d("tasks"), "count"),
        "dedup.shuffle_mb": (d("shuffle_bytes") / MB, "MB"),
        "dedup.spill_mb": ((d("spill_mem_bytes") + d("spill_disk_bytes")) / MB, "MB"),
        "dedup.cached_mb": (lay["dedup.cached_mb"], "MB"),
        **{f"dedup.{k}": (lay[f"dedup.{k}"], "count") for k in (
            "exact_groups", "duplicate_pairs", "similarity_pairs", "dup_flags")},
        "scoring.s": (lay["scoring.s"], "s"),
        "scoring.keep": (lay["scoring.keep"], "count"),
        "scoring.error_rows": (lay["scoring.error_rows"], "count"),
        "driver.gap_s": (traced_wall - t["covered_pass_s"], "s"),
        "driver.jobs": (g("pass", "jobs"), "count"),
        "driver.stages": (g("pass", "stages"), "count"),
        **{k: (lay[k], "s") for k in (
            "checkpoint.first_s", "checkpoint.resume_s", "tableio.read_s")},
        **{k: (lay[k], "count") for k in (
            "checkpoint.batches_run", "checkpoint.batches_skipped",
            "tableio.files", "tableio.commits")},
        "checkpoint.written_mb": (lay["checkpoint.written_mb"], "MB"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.overhead_s": (traced_wall - u["pass_walls_s"][1], "s"),
        "trace.layer_sum_s": (sum(walls), "s"),
    }
    return {k: {"value": v, "unit": unit} for k, (v, unit) in m.items()}


def run_measure(req: dict, env: dict, deadline: float) -> dict:
    """Run measure.py on one request; -> its result, or raise RuntimeError."""
    token = env["PERFBENCH_RUN"]
    out = os.path.join(WORK, f"result-{token}.json")
    path = os.path.join(WORK, f"request-{token}.json")
    with open(path, "w") as f:
        json.dump({**req, "work": WORK, "out": out, "launched": time.time()}, f)
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "measure.py"), path],
                            env=env, stdout=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("timed process exceeded the run's deadline")
    finally:
        reap(token, grace_s=max(1.0, min(20.0, deadline + 10 - time.time())))
        os.remove(path)
    if rc != 0:
        raise RuntimeError(f"timed process exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CLIPS_PER_CORE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clips", type=int, help="input size (default: per core)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt each pass's results before its check")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "dataquality_spark")):
        print(f"no dataquality_spark package under {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    files = 4 * cores  # bench.py's layout: four scan task-waves per core
    clips = a.clips or CLIPS_PER_CORE[a.workload] * cores
    env = child_env(uuid.uuid4().hex)
    load_start = host_load()
    busy0, steal0 = host_cpu_s()
    sessions = []
    try:
        path = prepare(a.workload, a.seed, clips, files, env, deadline)
        t_first = time.time()
        while True:
            t = time.time()
            sessions.append(run_measure(
                {"input": path, "cores": cores, "trace": a.trace, "corrupt": a.corrupt},
                env, deadline))
            # Another session only if it should end within --seconds of the
            # first one's start and before the run's deadline.
            now, took = time.time(), time.time() - t
            if a.trace or now - t_first + took > a.seconds or now + took > deadline:
                break
    except (RuntimeError, subprocess.SubprocessError) as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    with open(os.path.join(path, "stats.json")) as f:
        stats = json.load(f)
    res = sessions[-1]
    problems = [p for s in sessions for p in s["problems"]]
    untraced = [s["untraced"] for s in sessions]
    if any(None in u["pass_walls_s"] for u in untraced) or (
            a.trace and "wall_s" not in res["traced"]["pass"]):
        print("a pass did not complete: " + "; ".join(problems), file=sys.stderr)
        return 1
    attempted = sum(s["attempted"] for s in sessions)
    failed = sum(s["failed"] for s in sessions)
    digests = {d for s in sessions for d in s["digests"]}

    detail = {"workload": a.workload, "seed": a.seed, "cores": cores, "corpus": stats,
              "sessions": [{k: u[k] for k in ("setup", "pass_walls_s")} for u in untraced]}
    if a.trace:
        metrics = per_layer(res, stats["input_bytes"])
        lay = res["traced"]["layers"]
        split = {k: lay[k] for k in ("scan.s", "enrich.s", "persist.s", "dedup.s", "scoring.s")}
        detail["layer_share"] = {k: v / sum(split.values()) for k, v in split.items()}
    else:
        metrics = end_to_end(untraced, clips)
    detail.update({
        "problems": problems,
        "failed_frac": failed / max(1, attempted),
        "host_load_at_start": load_start, "host_load_at_end": host_load(),
        # run_cpu_s: this run's processes, all reaped by now; the rest of
        # host_busy_s is other work on the host
        "run_cpu_s": sum(os.times()[2:4]),
        "host_busy_s": host_cpu_s()[0] - busy0,
        "host_steal_s": host_cpu_s()[1] - steal0,
    })
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and len(digests) == 1,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
