"""Spark-free kernel probe: ``kernel.*`` per-layer metrics in fresh processes.

Usage: ``python3 perfbench/kernelprobe.py SAMPLE.parquet OUT.json NPROC``

SAMPLE holds ``text`` and ``kind`` columns. NPROC spawned processes each
import the kernel, make one cold pass over the sample (paying every lazy
set-up, e.g. R6 key derivations), then run the warm pass together; process 0
then repeats the warm pass alone with per-turn ``time.process_time`` timings
of the whole payload, the sniff and the assembly. All timing is CPU time of
the process that does the work, except the parallel efficiency, which compares
the solo and concurrent warm-pass walls.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys
import time

KINDS = ("html", "pdf", "pdf_real", "plain")


def _p99(xs):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.99 * len(xs)))] if xs else 0.0


def _worker(rank, texts, barrier, results):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from paddleocr_spark.kernel import assemble_text, extract_payload
    from paddleocr_spark.functions.sniff import sniff_kind

    c0 = time.process_time()
    for t in texts:
        extract_payload(t)
    cold_cpu = time.process_time() - c0

    barrier.wait()
    w0 = time.perf_counter()
    for t in texts:
        extract_payload(t)
    par_wall = time.perf_counter() - w0
    barrier.wait()

    res = {"rank": rank, "cold_cpu": cold_cpu, "par_wall": par_wall}
    if rank == 0:
        pt = time.process_time
        w0, c0 = time.perf_counter(), pt()
        for t in texts:
            extract_payload(t)
        res.update(solo_wall=time.perf_counter() - w0, warm_cpu=pt() - c0)
        per_turn, sniff, assemble = [], [], []
        for t in texts:
            a = pt()
            _, spans, _ = extract_payload(t)
            b = pt()
            assemble_text(spans)
            c = pt()
            sniff_kind(t)
            d = pt()
            per_turn.append(b - a)
            assemble.append(c - b)
            sniff.append(d - c)
        res.update(per_turn=per_turn, sniff=sniff, assemble=assemble)
    barrier.wait()
    results.put(res)


def probe(texts, kinds, nproc: int) -> dict:
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(nproc)
    results = ctx.Queue()
    procs = [ctx.Process(target=_worker, args=(r, texts, barrier, results), daemon=True)
             for r in range(nproc)]
    for p in procs:
        p.start()
    got = [results.get(timeout=150) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    r0 = next(r for r in got if r["rank"] == 0)
    per_turn = r0["per_turn"]
    out = {}
    for k in KINDS:
        xs = [x for x, kk in zip(per_turn, kinds) if kk == k]
        out[f"kernel.us_per_turn.{k}"] = 1e6 * statistics.fmean(xs) if xs else 0.0
        if k in ("html", "pdf_real"):
            out[f"kernel.p99_us.{k}"] = 1e6 * _p99(xs)
    n = len(texts)
    out["kernel.sniff_us_per_turn"] = 1e6 * sum(r0["sniff"]) / n
    out["kernel.assemble_us_per_turn"] = 1e6 * sum(r0["assemble"]) / n
    out["kernel.cold_s"] = r0["cold_cpu"] - r0["warm_cpu"]
    out["kernel.parallel_eff"] = r0["solo_wall"] / max(r["par_wall"] for r in got)
    return out


def main() -> None:
    import pyarrow.parquet as pq

    sample, out_path, nproc = sys.argv[1], sys.argv[2], int(sys.argv[3])
    tbl = pq.read_table(sample)
    res = probe(tbl["text"].to_pylist(), tbl["kind"].to_pylist(), nproc)
    with open(out_path, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
