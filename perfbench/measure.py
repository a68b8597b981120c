"""The benchmark's timed process: one Spark session on prepared inputs.

    python3 perfbench/measure.py <request.json>

``run.py`` writes the request and starts this process, so set-up is timed
from a real process start. The process is one fresh session: it sets up,
then times one pass over the input, the cold one that a batch job pays on
every run (it starts the Python workers and compiles the plans), and
checks its outputs. Each pass is ``pipeline.run_pipeline`` with library
defaults, its four outputs materialised serially (``duplicate_pairs``
first, which runs enrich, persist and the dedup funnel).

With tracing on, the session also times the first warm pass, and a second
session with an event log then runs one traced pass, measures each layer
from outside by materialising each layer's public output in turn
(``eventlog.py`` folds the log back onto the ``setJobGroup`` tags set
here), runs one checkpointed crash-and-resume pass, and times the enrich
scorers on one batch of the input in this process.

The result (metrics, raw pass walls, check outcomes) is written as JSON to
the path named in the request.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SINKS = ("duplicate_pairs", "results", "similarity_pairs", "run_metrics")
MICRO_ROWS = 512  # rows of the input the scorers are timed on
F1_MIN = 0.99
N_BATCHES = 8
FAIL_AFTER = 4
MB = 1 << 20


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def stored_bytes(spark) -> int:
    """Bytes of every persisted block, in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this run's processes: this one, the JVM
    and the JVM's Python workers, where the enrich scorers run."""
    from run import tagged_pids

    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tagged_pids(os.environ["PERFBENCH_RUN"]) + [os.getpid()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime + stime
    return total / tick


def f1(truth: list[bool], got: list[bool]) -> float:
    tp = sum(t and g for t, g in zip(truth, got))
    fp = sum(g and not t for t, g in zip(truth, got))
    fn = sum(t and not g for t, g in zip(truth, got))
    if tp + fp + fn == 0:
        return 1.0  # neither side labels anything positive
    return 2 * tp / (2 * tp + fp + fn)


def check_outputs(rows, pairs, expect: dict) -> tuple[str, list[str]]:
    """rows: (clip_id, keep, row_hash) of ``results``; pairs: the
    ``duplicate_pairs`` rows. -> (digest, problems); no problems = pass."""
    problems = []
    ids = [r[0] for r in rows]
    if len(ids) != expect["clips"] or len(set(ids)) != len(ids):
        problems.append(
            f"results has {len(ids)} rows / {len(set(ids))} ids for "
            f"{expect['clips']} input clips"
        )
    elif set(ids) != {f"clip_{i:012d}" for i in range(expect["clips"])}:
        problems.append("results ids differ from the input ids")
    keep = {r[0]: bool(r[1]) for r in rows}
    oracle = expect["oracle"]
    missing = [c for c in oracle if c not in keep]
    if missing:
        problems.append(f"{len(missing)} oracle clips missing from results")
    else:
        truth = [oracle[c] for c in oracle]
        got = [keep[c] for c in oracle]
        scores = (f1(truth, got), f1([not t for t in truth], [not g for g in got]))
        if min(scores) < F1_MIN:
            problems.append(f"keep/drop F1 {scores} below {F1_MIN}")
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(tuple(r)).encode())
    h.update(b"|pairs|")
    for p in sorted(tuple(p) for p in pairs):
        h.update(repr(p).encode())
    return h.hexdigest(), problems


class Bench:
    def __init__(self, req: dict):
        self.req = req
        self.cores = req["cores"]
        self.input = req["input"]
        with open(os.path.join(self.input, "stats.json")) as fh:
            stats = json.load(fh)
        import pandas as pd

        o = pd.read_parquet(os.path.join(self.input, "oracle.parquet"))
        o = o[~o["tie"]]  # see corpora.tie_clips
        self.expect = {
            "clips": stats["clips"],
            "oracle": dict(zip(o["clip_id"], o["keep"].astype(bool))),
        }
        size = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.input, "clips", "*.parquet")))
        # bench.py's split sizing: one scan split per input file
        self.split = max(2 << 20, min(128 << 20, size // stats["files"]))
        self.digests: list[str] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ session
    def session(self, eventlog: str | None = None):
        from dataquality_spark.session import get_spark

        conf = {
            "spark.sql.files.maxPartitionBytes": str(self.split),
            "spark.sql.files.openCostInBytes": str(1 << 20),
            "spark.sql.maxPlanStringLength": "8192",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                         shuffle_partitions=self.cores, extra_conf=conf)

    def setup(self, t_start: float, eventlog: str | None = None) -> dict:
        """Session up, models built, input opened, small fixed warm-up: a
        scan of the warm slice."""
        from dataquality_spark.functions import langid, perplexity

        self.spark = self.session(eventlog)
        t_session = time.time()
        langid.get_model()
        perplexity.get_model()
        t_models = time.time()
        self.clips = self.spark.read.parquet(os.path.join(self.input, "clips"))
        self.warm = self.spark.read.parquet(os.path.join(self.input, "warm"))
        self.warm.count()
        return {"start_s": t_session - t_start, "models_s": t_models - t_session,
                "setup_s": time.time() - t_start}

    def stop(self) -> None:
        from dataquality_spark.caching import release_all

        release_all()
        self.spark.stop()

    # --------------------------------------------------------------- pass
    def run_pass(self, group: str | None = None) -> dict:
        """One timed pass, then its output check."""
        from dataquality_spark.caching import release_all
        from dataquality_spark.datagen.clips import DEFAULT_RUN_TS
        from dataquality_spark.pipeline import run_pipeline

        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = run_pipeline(self.clips, DEFAULT_RUN_TS)
            peak = 0
            for name in SINKS:
                force(getattr(res, name))
                peak = max(peak, stored_bytes(self.spark))
            wall = time.perf_counter() - t0
            if group:
                sc.setJobGroup("check", "check")
            ok = self.check(res)
            self.failed += not ok
            return {"wall_s": wall, "cached_bytes": peak, "ok": ok}
        except Exception as e:  # a failing pass is counted, not fatal
            self.failed += 1
            self.problems.append(f"pass raised {type(e).__name__}: {e}")
            return {"ok": False}
        finally:
            release_all()

    def check(self, res) -> bool:
        from pyspark.sql import functions as F

        results = res.results
        if self.req.get("corrupt"):  # self-test: a duplicated output row
            results = results.unionByName(results.limit(1))
        rows = results.select(
            "clip_id", "keep", F.xxhash64(*res.results.columns)
        ).collect()
        digest, problems = check_outputs(rows, res.duplicate_pairs.collect(), self.expect)
        if self.digests and digest != self.digests[0]:
            problems.append("output digest differs from the run's first pass")
        self.digests.append(digest)
        self.problems += problems
        return not problems

    # ---------------------------------------------------------- untraced
    def measure(self, t_launch: float) -> dict:
        """Set up, then time the cold pass. When tracing, also time the
        first warm pass, the reference for the tracing overhead."""
        setup = self.setup(t_launch)
        passes = [self.run_pass() for _ in range(1 + self.req["trace"])]
        out = {
            "setup": setup,
            "pass_walls_s": [p.get("wall_s") for p in passes],
            "cached_bytes": passes[0].get("cached_bytes"),
        }
        self.stop()
        return out

    # ------------------------------------------------------------ traced
    def traced(self) -> dict:
        """After the untraced measurement: a fresh session with an event log
        (Spark reads that setting only at start), one traced pass, then the
        layer split and the checkpoint pass."""
        from dataquality_spark.datagen.clips import DEFAULT_RUN_TS
        from dataquality_spark.operators.enrich import enrich
        from eventlog import covered_s, parse

        eventlog_dir = os.path.join(self.req["work"], "eventlog")
        shutil.rmtree(eventlog_dir, ignore_errors=True)
        os.makedirs(eventlog_dir)
        setup = self.setup(time.time(), eventlog=eventlog_dir)
        app = self.spark.sparkContext.applicationId
        # The new session starts new Python workers; enriching the warm slice
        # starts them and loads the scorer models before the traced pass.
        self.timed("cold", lambda: force(enrich(self.warm, DEFAULT_RUN_TS)))
        p = self.run_pass(group="pass")
        layers = self.layer_split()
        layers.update(self.checkpoint_layers())
        self.stop()
        ev = parse(os.path.join(eventlog_dir, app))
        return {"setup": setup, "pass": p, "layers": layers, "events": ev,
                "covered_pass_s": covered_s(ev.get("pass", {}).get("intervals", []))}

    def timed(self, group: str, fn):
        self.spark.sparkContext.setJobGroup(group, group)
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t

    def layer_split(self) -> dict:
        """Cumulative split: scan, enrich over the scan, repartition +
        persist (as ``run_pipeline`` does), then dedup and scoring over the
        persisted frame."""
        from pyspark.sql import functions as F

        from dataquality_spark.caching import cached, release_all
        from dataquality_spark.datagen.clips import DEFAULT_RUN_TS
        from dataquality_spark.operators.dedup import dedup, exact_groups
        from dataquality_spark.operators.enrich import enrich
        from dataquality_spark.operators.scoring import with_dimensions, with_policy

        out = {}
        cpu0 = tree_cpu_s()
        _, scan = self.timed("scan", lambda: force(self.clips))
        cpu1 = tree_cpu_s()
        _, upto_enrich = self.timed(
            "enrich", lambda: force(enrich(self.clips, DEFAULT_RUN_TS)))
        cpu2 = tree_cpu_s()
        n = self.cores
        enriched = cached(enrich(self.clips, DEFAULT_RUN_TS).repartition(
            n, F.pmod(F.xxhash64("clip_id"), F.lit(n))))
        _, upto_persist = self.timed("persist", enriched.count)
        persisted = stored_bytes(self.spark)
        dd = dedup(enriched)
        _, pairs_s = self.timed("dedup.pairs", lambda: force(dd.duplicate_pairs))
        out["dedup.cached_mb"] = (stored_bytes(self.spark) - persisted) / MB
        _, flags_s = self.timed("dedup.flags", lambda: force(dd.flags))
        _, sim_s = self.timed("dedup.similarity", lambda: force(dd.similarity_pairs))
        scored = with_policy(with_dimensions(
            enriched.join(dd.flags, "clip_id", "left")
            .fillna({"is_dup": False})
            .withColumn("status", F.when(F.col("decode_ok"), "success").otherwise("error"))
            .withColumn("processed_at", F.lit(DEFAULT_RUN_TS))
        ))
        _, scoring_s = self.timed("scoring", lambda: force(scored))
        self.spark.sparkContext.setJobGroup("counts", "counts")
        out.update({
            "scan.s": scan,
            "enrich.s": upto_enrich - scan,
            "enrich.cpu_s": (cpu2 - cpu1) - (cpu1 - cpu0),
            "persist.s": upto_persist - upto_enrich,
            "dedup.s": pairs_s + flags_s + sim_s,
            "dedup.flags_s": flags_s,
            "dedup.similarity_s": sim_s,
            "scoring.s": scoring_s,
            "enrich.error_rows": enriched.filter(~F.col("decode_ok")).count(),
            "dedup.exact_groups": exact_groups(enriched)
            .filter(F.col("group_size") >= 2).count(),
            "dedup.duplicate_pairs": dd.duplicate_pairs.count(),
            "dedup.similarity_pairs": dd.similarity_pairs.count(),
            "dedup.dup_flags": dd.flags.filter("is_dup").count(),
            "scoring.keep": scored.filter("keep").count(),
            "scoring.error_rows": scored.filter(F.col("status") == "error").count(),
        })
        release_all()
        return out

    def checkpoint_layers(self) -> dict:
        """One crash-and-resume pass of ``run_checkpointed`` over the same
        input in a fresh directory, then one read of the committed table."""
        from dataquality_spark.caching import release_all
        from dataquality_spark.checkpoint import run_checkpointed
        from dataquality_spark.datagen.clips import DEFAULT_RUN_TS
        from dataquality_spark.io.tableio import Manifest, read_table

        out_dir = os.path.join(self.req["work"], "checkpoint")
        shutil.rmtree(out_dir, ignore_errors=True)
        table = os.path.join(out_dir, "enriched")

        def crash():
            try:
                run_checkpointed(self.clips, DEFAULT_RUN_TS, out_dir,
                                 n_batches=N_BATCHES, fail_after_batches=FAIL_AFTER)
            except RuntimeError:
                return True
            return False

        crashed, first_s = self.timed("checkpoint.first", crash)
        committed = sorted(Manifest(table).committed_batches())

        def resume():
            r = run_checkpointed(self.clips, DEFAULT_RUN_TS, out_dir, n_batches=N_BATCHES)
            for name in SINKS:
                force(getattr(r.result, name))
            return r

        r, resume_s = self.timed("checkpoint.resume", resume)
        self.spark.sparkContext.setJobGroup("check", "check")
        self.attempted += 1
        ok = self.check(r.result)
        if not crashed or len(committed) != FAIL_AFTER or sorted(r.batches_skipped) != committed:
            ok = False
            self.problems.append(
                f"checkpoint: crashed={crashed} committed={committed} "
                f"skipped={sorted(r.batches_skipped)}")
        self.failed += not ok
        release_all()
        _, read_s = self.timed(
            "tableio.read", lambda: force(read_table(self.spark, table, Manifest(table))))
        files = glob.glob(os.path.join(table, "batch_id=*", "*.parquet"))
        return {
            "checkpoint.first_s": first_s,
            "checkpoint.resume_s": resume_s,
            "checkpoint.batches_run": len(r.batches_run),
            "checkpoint.batches_skipped": len(r.batches_skipped),
            "checkpoint.written_mb": sum(map(os.path.getsize, files)) / MB,
            "tableio.read_s": read_s,
            "tableio.files": len(files),
            "tableio.commits": len(Manifest(table).entries()),
        }


def micro(input_dir: str) -> dict:
    """Single-thread ms per 4,096 rows of ``enrich_batch`` and of each of
    its component scorers, on the first MICRO_ROWS rows of the input."""
    import pandas as pd
    import pyarrow.parquet as pq

    from dataquality_spark.functions.audio import audio_stats_batch
    from dataquality_spark.functions.langid import get_model as langid_model
    from dataquality_spark.functions.minhash import signature_frame
    from dataquality_spark.functions.perplexity import get_model as charlm_model
    from dataquality_spark.functions.pii import scrub_batch
    from dataquality_spark.functions.texthash import text_hash64
    from dataquality_spark.operators.enrich import enrich_batch

    frames, n = [], 0
    for path in sorted(glob.glob(os.path.join(input_dir, "clips", "*.parquet"))):
        frames.append(pq.read_table(path).to_pandas())
        n += len(frames[-1])
        if n >= MICRO_ROWS:
            break
    pdf = pd.concat(frames, ignore_index=True).iloc[:MICRO_ROWS]
    texts = pdf["transcript"].tolist()
    lid, lm = langid_model(), charlm_model()
    parts = {
        "enrich.batch_ms": lambda: enrich_batch(pdf, lid, lm),
        "enrich.audio_ms": lambda: audio_stats_batch(
            pdf["bytes"].tolist(), pdf["codec"].tolist()),
        "enrich.langid_ms": lambda: lid.predict_batch(texts),
        "enrich.ppl_ms": lambda: lm.perplexity_batch(texts),
        "enrich.pii_ms": lambda: scrub_batch(texts),
        "enrich.minhash_ms": lambda: signature_frame(texts),
        "enrich.texthash_ms": lambda: [text_hash64(t or "") for t in texts],
    }
    out = {}
    for name, fn in parts.items():
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t)
        out[name] = statistics.median(runs) * 1e3 * 4096 / len(pdf)
    return out


def main() -> None:
    with open(sys.argv[1]) as fh:
        req = json.load(fh)
    b = Bench(req)
    result = {"untraced": b.measure(req["launched"])}
    if req["trace"]:
        result["traced"] = b.traced()
        result["micro"] = micro(req["input"])
    result.update(attempted=b.attempted, failed=b.failed, problems=b.problems,
                  digests=sorted(set(b.digests)))
    with open(req["out"], "w") as fh:
        json.dump(result, fh)
    # End the JVM: spark.stop() leaves the py4j gateway process running
    # until this interpreter exits; closing its stdin makes it exit now.
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
