"""The benchmark's own tests, at tiny scale.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The last test drives one real short run (Spark included, about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import compare  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _last_json(stdout: str):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def test_metric_catalog_matches_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in spec["end_to_end"])


def test_comparator_counts_each_failure_kind():
    expected = {("a", 0): "d0", ("a", 1): "d1", ("a", 2): "d2", ("b", 0): "d3"}
    observed = [
        (("a", 0), "d0"),        # ok
        (("a", 1), "WRONG"),     # altered
        (("a", 2), "d2"),        # ok ...
        (("a", 2), "d2"),        # ... duplicated
        (("a", 2), "d2"),        # ... and again
        (("z", 9), "dz"),        # unexpected
    ]                            # ("b", 0) missing
    got = compare.compare(expected, observed)
    assert got == {"checked": 6, "missing": 1, "duplicated": 2, "altered": 1,
                   "unexpected": 1, "failed": 5}
    assert compare.compare(expected, [(k, v) for k, v in expected.items()])["failed"] == 0


def test_output_digest_matches_oracle_digest():
    import pyarrow as pa
    from paddleocr_spark.kernel import assemble_text, extract_payload

    text = "<html><body><p>" + "alpha beta gamma " * 8 + "</p><p>second block here</p></body></html>"
    kind, spans, dropped = extract_payload(text)
    tbl = pa.table({
        "conv_id": ["c"], "turn_idx": pa.array([0], pa.int32()), "payload_kind": [kind],
        "n_dropped": pa.array([dropped], pa.int32()), "extracted_text": [assemble_text(spans)],
        "spans": [[{"span_idx": i, "kind": k, "text": t, "score": s, "bbox": b}
                   for i, k, t, s, b in spans]],
    })
    ((key, dg),) = compare.output_digests(tbl)
    assert key == ("c", 0)
    assert dg == inputs.oracle_digest(text)[1]


def _tiny_input(path):
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [("c1", 0, "user", "hello world, plain text", None, ts)]
    os.makedirs(os.path.join(path, "data"))
    inputs._write_table(os.path.join(path, "data", "part-00000.parquet"), rows)
    import pyarrow as pa
    import pyarrow.parquet as pq

    kind, dg = inputs.oracle_digest(rows[0][3])
    pq.write_table(pa.table({"conv_id": ["c1"], "turn_idx": pa.array([0], pa.int32()),
                             "kind": [kind], "digest": [dg]}), os.path.join(path, "oracle.parquet"))
    names = ["data/part-00000.parquet", "oracle.parquet"]
    manifest = {"workload": "tiny", "seed": 0, "n_turns": 1, "kinds": {kind: 1},
                "files": ["part-00000.parquet"], "r6_docs": 0, "in_bytes": 1,
                "fingerprint": inputs._fingerprint(path, names)}
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def test_altered_input_is_refused(tmp_path):
    path = str(tmp_path / "in")
    _tiny_input(path)
    assert inputs.verify(path).expected() == {("c1", 0): inputs.oracle_digest("hello world, plain text")[1]}
    data = os.path.join(path, "data", "part-00000.parquet")
    with open(data, "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(inputs.InputRefused):
        inputs.verify(path)


def test_generator_drift_is_refused(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "load_pins", lambda: {"rows": "0" * 64, "oracle": "0" * 64})
    with pytest.raises(inputs.InputRefused):
        inputs.check_generator_pin(str(tmp_path))


def test_pinned_generator_still_matches(tmp_path):
    cache = os.path.join(ROOT, ".perfbench", "cache")
    if os.path.exists(os.path.join(cache, "r6pool.json")):
        shutil.copy(os.path.join(cache, "r6pool.json"), tmp_path)
    assert inputs.check_generator_pin(str(tmp_path))["corpus_version"] == 62


def _bench_only_copy(dst):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    shutil.copytree(BENCH, os.path.join(dst, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))


def test_not_importable_exits_nonzero_without_result(tmp_path):
    _bench_only_copy(tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "job_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == run.EXIT_NOT_IMPORTABLE
    assert "{" not in p.stdout


def test_tampered_cache_exits_with_input_refused(tmp_path):
    _bench_only_copy(tmp_path)
    shutil.copytree(os.path.join(ROOT, "paddleocr_spark"), tmp_path / "paddleocr_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cache = tmp_path / ".perfbench" / "cache"
    os.makedirs(cache)
    real_pool = os.path.join(ROOT, ".perfbench", "cache", "r6pool.json")
    if os.path.exists(real_pool):
        shutil.copy(real_pool, cache)
    entry = str(cache / "stream_trickle-s424242")
    _tiny_input(entry)
    with open(os.path.join(entry, "oracle.parquet"), "ab") as f:
        f.write(b"tampered")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_trickle", "--seed", "424242",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == run.EXIT_INPUT_REFUSED, p.stderr[-2000:]
    assert "{" not in p.stdout


def test_short_run_prints_every_metric_with_its_unit():
    """One real short run; the last line carries exactly the BENCHMARK.json
    end-to-end metrics, each with its unit."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_trickle", "--seed", "7",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = _last_json(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
