"""The repository's benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload job_mixed --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``job_mixed``: ``sinks.checkpoint.run_extract_job`` with ``job.py``'s
  defaults over the generator's natural payload mix;
- ``stream_trickle``: ``streaming.stream.extract_foreach_batch`` over many
  small files, three per trigger.

Load is a closed loop with one caller at ``local[nproc]``: each timed action
starts when the previous one returns, until ``--seconds`` have passed and at
least three actions ran. Before the loop, every Python worker is taken past
its lazy set-up (the R6 key derivations) and the workload's own action runs
twice. After the loop every output turn is checked: the first output's against
the oracle digest of its input turn, later outputs' against the first.

Output: a ``{"record": ...}`` line (host, weather, every timed action's wall,
correctness counts), then, as the last line, ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans around every call into a layer, runs the
decomposition actions (scan only, unsalted and salted extract, the job, the
Spark-free kernel probe) and reports the per-layer metrics. Per-layer metrics
a workload does not exercise (``stream.*`` outside ``stream_trickle``, kernel
kinds absent from its input) read 0.

Everything is written under ``.perfbench/`` in the repository root: the
input cache, Spark's local and temporary dirs, outputs, run records and traces.

Exit codes: 0 result printed; 2 the program is not importable; 3 the input
does not match its pinned fingerprint; 1 any other failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

EXIT_FAILED = 1
EXIT_NOT_IMPORTABLE = 2
EXIT_INPUT_REFUSED = 3

WORKLOADS = ("job_mixed", "stream_trickle")
MIN_ACTIONS = 3  # the timed loop runs at least this many actions
# warm-up runs the workload's own action this many times: after one, the
# first timed action still read 10-20% slower than the rest
WARMUP_ACTIONS = 2
STREAM_FILES_PER_TRIGGER = 3
DECOMPOSITION_REPS = 2

# name → unit; BENCHMARK.json lists the same names, units and directions
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "cpu_us_per_turn": "us",
    "worker_rss_peak_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.in_bytes_per_turn": "B",
    "extract.noop_s": "s",
    "extract.unsalted_s": "s",
    "extract.task_skew": "ratio",
    "extract.udf_tasks": "count",
    "extract.python_boot_s": "s",
    "extract.python_init_s": "s",
    "extract.python_run_s": "s",
    "extract.to_python_bytes_per_turn": "B",
    "extract.from_python_bytes_per_turn": "B",
    "kernel.us_per_turn.html": "us",
    "kernel.us_per_turn.pdf": "us",
    "kernel.us_per_turn.pdf_real": "us",
    "kernel.us_per_turn.plain": "us",
    "kernel.p99_us.html": "us",
    "kernel.p99_us.pdf_real": "us",
    "kernel.sniff_us_per_turn": "us",
    "kernel.assemble_us_per_turn": "us",
    "kernel.parallel_eff": "ratio",
    "kernel.cold_s": "s",
    "sinks.write_s": "s",
    "sinks.groups": "count",
    "sinks.orchestration_s": "s",
    "sinks.out_bytes_per_turn": "B",
    "stream.microbatch_p50_s": "s",
    "stream.microbatch_p90_s": "s",
    "stream.trigger_p50_s": "s",
    "stream.addbatch_p50_s": "s",
    "stream.batches": "count",
    "trace.turns_per_s": "turns/s",
}


def _fail(code: int, msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _isolate_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark_local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file: the JVM would write it under /tmp whatever tmpdir is
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a small, pre-touched JVM heap: the engine's own default is 8g
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    return total


class Bench:
    def __init__(self, args, inp, expected, tracer, work):
        self.args = args
        self.inp = inp
        self.expected = expected
        self.tr = tracer
        self.work = work
        self.n = inp.n_turns
        self.actions: list[dict] = []
        self.checks: list[dict] = []
        self.rss_kb: dict[int, int] = {}
        self.layer: dict[str, float] = {}

    # -- session ------------------------------------------------------------
    def start_session(self, nproc: int):
        from paddleocr_spark.session import get_spark

        with self.tr.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                cores=nproc,
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def sample_workers(self) -> None:
        import weather

        for pid, kb in weather.python_workers().items():
            self.rss_kb[pid] = max(kb, self.rss_kb.get(pid, 0))

    # -- inputs as DataFrames -----------------------------------------------
    def transcripts(self):
        from paddleocr_spark.sources import read_transcripts

        with self.tr.span("sources.read_transcripts"):
            return read_transcripts(self.spark, self.inp.data_dir)

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- warm-up --------------------------------------------------------------
    def warm_workers(self) -> dict | None:
        """One round that gives every Python worker one R6-encrypted payload
        per R6 key of the input: nproc small files each hold all of them, and
        the scan gives each file its own task, so whichever worker runs a task
        meets every key once. Returns None when the input has none."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from inputs import R6_MARK, SCHEMA, r6_key
        from paddleocr_spark.operators.extract import extract
        from paddleocr_spark.sources import read_transcripts
        import weather

        if getattr(self, "_warm_df", None) is None:
            tbl = pq.read_table(self.inp.data_dir, schema=SCHEMA)
            r6 = tbl.filter(pc.match_substring(tbl["text"], R6_MARK))
            if r6.num_rows == 0:
                return None
            first_per_key: dict[str, int] = {}
            for i, text in enumerate(r6["text"].to_pylist()):
                first_per_key.setdefault(r6_key(text), i)
            r6 = r6.take(sorted(first_per_key.values()))
            d = os.path.join(self.work, "warm_r6")
            os.makedirs(d, exist_ok=True)
            for p in range(weather.nproc()):
                ids = pc.binary_join_element_wise(f"warm-{p}-", r6["conv_id"], "")
                pq.write_table(r6.set_column(0, "conv_id", ids), os.path.join(d, f"part-{p:05d}.parquet"))
            self._warm_df = read_transcripts(self.spark, d)
        t0 = time.perf_counter()
        with self.tr.span("warmup.r6_round"):
            self.noop(extract(self._warm_df, salt=False))
        return {"wall_s": time.perf_counter() - t0, "workers": sorted(weather.python_workers())}

    # -- the timed loop -----------------------------------------------------
    def timed_loop(self, wl) -> dict:
        import weather

        seconds = self.args.seconds
        workers_before = set(weather.python_workers())
        w = weather.Weather(self.spark)
        roles0 = weather.cpu_by_role()
        t0 = time.perf_counter()
        i = 0
        while i < MIN_ACTIONS or time.perf_counter() - t0 < seconds:
            with self.tr.span("action", workload=self.args.workload, i=i):
                rec = wl.action(self, i, timed=True)
            self.actions.append(rec)
            self.sample_workers()
            i += 1
        loop_s = time.perf_counter() - t0
        roles = {k: v - roles0[k] for k, v in weather.cpu_by_role().items()}
        new_workers = set(weather.python_workers()) - workers_before
        return {"loop_s": loop_s, "cpu_s": sum(roles.values()), "cpu_split": roles,
                "actions": i, "weather": w.delta(),
                "workers_spawned_in_loop": len(new_workers)}

    def verify(self, outputs: dict) -> None:
        """Check the first named output turn by turn against the oracle
        digests, and every later one turn by turn against the first through a
        per-row hash of the same columns, computed in Spark."""
        from functools import reduce

        from compare import OUTPUT_COLUMNS, compare, output_digests
        from pyspark.sql import functions as F

        names = list(outputs)
        with self.tr.span("verify"):
            first = outputs[names[0]].select(*OUTPUT_COLUMNS).toArrow()
            self.checks.append({"what": names[0], **compare(self.expected, output_digests(first))})
            if len(names) == 1:
                return
            row_hash = F.xxhash64(*OUTPUT_COLUMNS[2:])
            hashed = reduce(lambda x, y: x.unionByName(y), [
                df.select(F.lit(n).alias("_output"), "conv_id", "turn_idx", row_hash.alias("h"))
                for n, df in outputs.items()
            ]).toArrow().to_pydict()
            per_output: dict[str, list] = {n: [] for n in names}
            for n, cid, t, h in zip(hashed["_output"], hashed["conv_id"], hashed["turn_idx"], hashed["h"]):
                per_output[n].append(((cid, t), h))
            reference = dict(per_output[names[0]])
            for n in names[1:]:
                self.checks.append({"what": n, "against": names[0], **compare(reference, per_output[n])})


# -- workloads --------------------------------------------------------------

class JobMixed:
    """run_extract_job with job.py's defaults into a fresh dir per action."""

    def prepare(self, b: Bench) -> None:
        self.df = b.transcripts()
        self.outs: list[str] = []

    def action(self, b: Bench, i: int, timed: bool) -> dict:
        from paddleocr_spark.sinks.checkpoint import run_extract_job

        out = os.path.join(b.work, "out", f"job-{'t' if timed else 'w'}{i}")
        t0 = time.perf_counter()
        with b.tr.span("sinks.run_extract_job"):
            summary = run_extract_job(b.spark, self.df, out)
        wall = time.perf_counter() - t0
        if timed:
            self.outs.append(out)
        else:
            shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "turns": summary["turns"], "groups": summary["groups_run"],
                "group_wall_s": summary["wall_s"]}

    def check(self, b: Bench) -> None:
        from paddleocr_spark.sinks.checkpoint import read_committed, run_extract_job

        b.verify({os.path.basename(o): read_committed(b.spark, o) for o in self.outs})
        resumed = run_extract_job(b.spark, self.df, self.outs[-1])
        b.checks.append({"what": "resume", "groups_run": resumed["groups_run"],
                         "failed": b.n if resumed["groups_run"] else 0})
        for out in self.outs:
            b.layer.setdefault("sinks.out_bytes_per_turn", _du(out) / b.n)
            shutil.rmtree(out, ignore_errors=True)


class StreamTrickle:
    """extract_foreach_batch over the input's small files, a few per trigger,
    into a fresh output and checkpoint per query."""

    def prepare(self, b: Bench) -> None:
        self.outs: list[tuple[str, list[int]]] = []
        self.batches: list[dict] = []

    def action(self, b: Bench, i: int, timed: bool) -> dict:
        from paddleocr_spark.streaming.stream import (
            extract_foreach_batch,
            read_transcript_stream,
        )

        tag = f"{'t' if timed else 'w'}{i}"
        out = os.path.join(b.work, "out", f"stream-{tag}")
        ckpt = os.path.join(b.work, "ckpt", f"stream-{tag}")
        t0 = time.perf_counter()
        with b.tr.span("streaming.read_transcript_stream"):
            sdf = read_transcript_stream(b.spark, b.inp.data_dir, STREAM_FILES_PER_TRIGGER)
        with b.tr.span("streaming.extract_foreach_batch"):
            q = extract_foreach_batch(sdf, out, ckpt)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        batches = []
        for k, p in enumerate(prog):
            rec = {
                "batch_id": p["batchId"],
                "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1000.0,
                "addbatch_s": p["durationMs"].get("addBatch", 0) / 1000.0,
            }
            if k + 1 < len(prog):
                rec["interval_s"] = _ts(prog[k + 1]["timestamp"]) - _ts(p["timestamp"])
            rec["group_wall_s"] = _group_walls(os.path.join(out, f"batch={p['batchId']}"))
            batches.append(rec)
        if timed:
            self.outs.append((out, [r["batch_id"] for r in batches]))
            self.batches.extend(batches)
        else:
            shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return {"wall_s": wall, "batches": len(batches),
                "batch_trigger_s": [r["trigger_s"] for r in batches]}

    def check(self, b: Bench) -> None:
        from functools import reduce

        from paddleocr_spark.sinks.checkpoint import read_committed

        outputs = {}
        for out, ids in self.outs:
            parts = [read_committed(b.spark, os.path.join(out, f"batch={i}")).drop("group", "bucket")
                     for i in ids]
            outputs[os.path.basename(out)] = reduce(lambda x, y: x.unionByName(y), parts)
        b.verify(outputs)
        for out, _ in self.outs:
            b.layer.setdefault("sinks.out_bytes_per_turn", _du(out) / b.n)
            shutil.rmtree(out, ignore_errors=True)


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _group_walls(out: str) -> float:
    mdir = os.path.join(out, "_manifest")
    total = 0.0
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    total += json.load(f)["wall_s"]
    return total


WORKLOAD_CLASSES = {"job_mixed": JobMixed, "stream_trickle": StreamTrickle}


# -- traced decomposition ---------------------------------------------------

def decompose(b: Bench, wl) -> None:
    """Scan only, unsalted and salted extract, the job, and the kernel probe,
    each around a public call, for the per-layer metrics."""
    import sparkmetrics
    from paddleocr_spark.operators.extract import extract
    from paddleocr_spark.sinks.checkpoint import run_extract_job

    L = b.layer
    df = b.transcripts()

    def reps(name, fn):
        walls = []
        for _ in range(DECOMPOSITION_REPS):
            t0 = time.perf_counter()
            with b.tr.span(name):
                fn()
            walls.append(time.perf_counter() - t0)
        return _median(walls)

    L["sources.scan_s"] = reps("decompose.scan", lambda: b.noop(df))
    L["sources.in_bytes_per_turn"] = b.inp.manifest["in_bytes"] / b.n
    L["extract.unsalted_s"] = reps("decompose.unsalted", lambda: b.noop(extract(df, salt=False)))
    since = sparkmetrics.last_execution_id(b.spark)
    L["extract.noop_s"] = reps("decompose.salted", lambda: b.noop(extract(df)))
    py = sparkmetrics.python_udf(b.spark, since)
    durs = sparkmetrics.task_durations_ms(b.spark, py["udf_stages"][-1:])
    runs = DECOMPOSITION_REPS
    L["extract.task_skew"] = sparkmetrics.skew(durs)
    L["extract.udf_tasks"] = len(durs)
    L["extract.python_boot_s"] = py["boot_ms"] / 1000.0 / runs
    L["extract.python_init_s"] = py["init_ms"] / 1000.0 / runs
    L["extract.python_run_s"] = py["run_ms"] / 1000.0 / runs
    L["extract.to_python_bytes_per_turn"] = py["sent_bytes"] / (b.n * runs)
    L["extract.from_python_bytes_per_turn"] = py["received_bytes"] / (b.n * runs)

    jobs = []
    for i in range(2):
        out = os.path.join(b.work, "out", f"decompose-job-{i}")
        t0 = time.perf_counter()
        with b.tr.span("decompose.job"):
            s = run_extract_job(b.spark, df, out)
        jobs.append((time.perf_counter() - t0, s, _group_walls(out), _du(out)))
        shutil.rmtree(out, ignore_errors=True)
    job_wall = _median([j[0] for j in jobs])
    L["sinks.write_s"] = job_wall - L["extract.noop_s"]
    L["sinks.groups"] = jobs[-1][1]["groups_run"]
    L.setdefault("sinks.out_bytes_per_turn", jobs[-1][3] / b.n)
    if isinstance(wl, StreamTrickle):
        L["sinks.orchestration_s"] = _median(
            [r["trigger_s"] - r["group_wall_s"] for r in wl.batches]
        )
    else:
        L["sinks.orchestration_s"] = _median([j[0] - j[2] for j in jobs])

    with b.tr.span("kernel.probe"):
        L.update(kernel_probe(b))


def kernel_probe(b: Bench) -> dict:
    """Spark-free kernel run in fresh processes over a fixed sample of the
    input: up to 300 turns per kind plus every R6-encrypted payload."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from inputs import R6_MARK, SCHEMA
    import weather

    tbl = pq.read_table(b.inp.data_dir, schema=SCHEMA)
    oracle = pq.read_table(os.path.join(b.inp.path, "oracle.parquet"))
    kind_of = dict(zip(zip(oracle["conv_id"].to_pylist(), oracle["turn_idx"].to_pylist()),
                       oracle["kind"].to_pylist()))
    texts, kinds, per = [], [], {}
    for cid, t, text in zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist(),
                            tbl["text"].to_pylist()):
        k = kind_of[(cid, t)]
        if per.get(k, 0) < 300 or R6_MARK in (text or ""):
            per[k] = per.get(k, 0) + 1
            texts.append(text)
            kinds.append(k)
    sample = os.path.join(b.work, "kernel_sample.parquet")
    result = os.path.join(b.work, "kernel_probe.json")
    pq.write_table(pa.table({"text": texts, "kind": kinds}), sample)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "kernelprobe.py"), sample, result,
         str(weather.nproc())],
        check=True, timeout=170,
    )
    with open(result) as f:
        return json.load(f)


# -- main -------------------------------------------------------------------

def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> None:
    args = parse_args()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    cache = os.path.join(STATE, "cache")
    runs = os.path.join(STATE, "runs")
    for d in (work, cache, runs):
        os.makedirs(d, exist_ok=True)
    _isolate_env(work)

    sys.path.insert(0, ROOT)
    try:
        import paddleocr_spark.kernel  # noqa: F401
        import paddleocr_spark.oracle  # noqa: F401
        from paddleocr_spark.operators.extract import extract  # noqa: F401
        from paddleocr_spark.session import get_spark  # noqa: F401
        from paddleocr_spark.sinks.checkpoint import run_extract_job  # noqa: F401
        from paddleocr_spark.sources import read_transcripts  # noqa: F401
        from paddleocr_spark.streaming.stream import extract_foreach_batch  # noqa: F401
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        _fail(EXIT_NOT_IMPORTABLE, f"the program is not importable: {e}")
    imports_s = time.perf_counter() - T0

    import inputs
    import weather
    from spans import Tracer

    t_inputs = time.perf_counter()
    try:
        inp, gen_s = inputs.materialize(args.workload, args.seed, cache, min(4, weather.nproc()))
    except inputs.InputRefused as e:
        shutil.rmtree(work, ignore_errors=True)
        _fail(EXIT_INPUT_REFUSED, f"input refused: {e}")
    expected = inp.expected()
    inputs_s = time.perf_counter() - t_inputs

    tracer = Tracer(bool(args.trace), run_id)
    b = Bench(args, inp, expected, tracer, work)
    wl = WORKLOAD_CLASSES[args.workload]()
    host = weather.host()
    record: dict = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "host": host, "input": {
                        "turns": inp.n_turns, "kinds": inp.manifest["kinds"],
                        "fingerprint": inp.fingerprint, "r6_docs": inp.manifest["r6_docs"],
                        "generated_s": gen_s, "prepare_s": inputs_s}}
    started = False
    try:
        t_session = time.perf_counter()
        b.start_session(host["nproc"])
        started = True
        t_warm = time.perf_counter()
        with tracer.span("warmup"):
            rounds = [b.warm_workers()]
            wl.prepare(b)
            record["warmup_actions"] = [wl.action(b, i, timed=False) for i in range(WARMUP_ACTIONS)]
            # a worker first seen during the action has not met the R6 keys
            while rounds[-1] and set(weather.python_workers()) - set(rounds[-1]["workers"]):
                rounds.append(b.warm_workers())
                if len(rounds) > 4:
                    break
            record["warmup_rounds"] = rounds
        t_ready = time.perf_counter()
        b.sample_workers()
        start_s = t_warm - t_session
        warmup_s = t_ready - t_warm
        # set-up is the program's: imports, session start and warm-up; input
        # generation, oracle digests and the host calibration are left out
        setup_s = imports_s + start_s + warmup_s

        loop = b.timed_loop(wl)
        t_check = time.perf_counter()
        wl.check(b)
        t_checked = time.perf_counter()
        record["check_s"] = t_checked - t_check
        if args.trace:
            decompose(b, wl)
            record["decompose_s"] = time.perf_counter() - t_checked
    except Exception:
        traceback.print_exc()
        _fail(EXIT_FAILED, "run failed")
    finally:
        t_stop = time.perf_counter()
        if started:
            b.stop_session()
        record["stop_s"] = time.perf_counter() - t_stop
        leftovers = weather.descendants()
        for pid in leftovers:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in leftovers:
            try:
                os.waitpid(pid, 0)
            except OSError:
                pass
        shutil.rmtree(work, ignore_errors=True)

    walls = [a["wall_s"] for a in b.actions]
    attempted = b.n * len(b.actions)
    failed = sum(c["failed"] for c in b.checks)
    turns_per_s = b.n / _median(walls)
    metrics = {
        "setup_s": setup_s,
        "turns_per_s": turns_per_s,
        "cpu_us_per_turn": 1e6 * loop["cpu_s"] / attempted,
        "worker_rss_peak_mb": max(b.rss_kb.values(), default=0) / 1024.0,
    }
    L = b.layer
    L["session.start_s"] = start_s
    L["session.warmup_s"] = warmup_s
    L["trace.turns_per_s"] = turns_per_s
    if isinstance(wl, StreamTrickle):
        intervals = [r["interval_s"] for r in wl.batches if "interval_s" in r]
        L["stream.microbatch_p50_s"] = _median(intervals)
        L["stream.microbatch_p90_s"] = _pct(intervals, 0.9)
        L["stream.trigger_p50_s"] = _median([r["trigger_s"] for r in wl.batches])
        L["stream.addbatch_p50_s"] = _median([r["addbatch_s"] for r in wl.batches])
        L["stream.batches"] = len(wl.batches)
        record["batches"] = wl.batches
    record.update(
        setup={"setup_s": setup_s, "imports_s": imports_s, "session.start_s": start_s,
               "session.warmup_s": warmup_s},
        actions=b.actions,
        loop=loop,
        checks=b.checks,
        worker_rss_kb=b.rss_kb,
        end_to_end=metrics,
    )
    if args.trace:
        record["per_layer"] = {k: L.get(k, 0.0) for k in PER_LAYER}
        record["trace_self_s"] = tracer.self_times()
        tracer.write(os.path.join(runs, f"{run_id}.trace.json"))
        chosen, units = record["per_layer"], PER_LAYER
    else:
        chosen, units = metrics, END_TO_END
    record["total_s"] = time.perf_counter() - T0
    with open(os.path.join(runs, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
