"""Seeded workload inputs, their oracle digests, and the corpus pin.

Every workload's input is a directory of parquet files with exactly the
``input_hint`` schema (``turn_idx`` is int32: the streaming source's fixed DDL
rejects int64). Rows come from the corpus generator's pure row function
``corpus.turn_row`` with ``rep = seed`` and a per-document vocabulary drawn
from the seed, so the same seed always gives the same bytes.

Beside the data sits ``oracle.parquet``: one digest per turn computed by
``oracle.oracle_extract`` (the pure-Python check that shares no code with the
kernel). Generation and digests run in a small spawn pool before Spark starts
and are cached under ``.perfbench/cache``; a cached input is re-hashed on load
and refused if any byte changed.

``PIN_*`` guard the generator itself: every run regenerates a fixed sample and
refuses to measure if its rows or oracle digests differ from ``pins.json``, so
a corpus or oracle change can never silently change the workload.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing as mp
import os
import random
import re
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ORACLE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("kind", pa.string()),
        ("digest", pa.string()),
    ]
)

# workload shapes (turn counts are per input, before any repetition)
JOB_DOCS = 1000          # natural mix: ~8k turns, whales 1 in 97 docs
JOB_FILES = 8            # ... in contiguous doc ranges
STREAM_FILES = 9         # many small files ...
STREAM_FILE_TURNS = 100  # ... of ~100 turns each

# the generator pin: a fixed sample regenerated on every run
PIN_SEED = 0
PIN_DOCS = range(1, 41)
PIN_R6_TURNS = [(97, 68), (156, 0)]  # two R6-encrypted pdf_real turns


class InputRefused(Exception):
    """The generated or cached input does not match its pinned fingerprint."""


# -- row generation ---------------------------------------------------------

def _vocab(seed: int) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    return [
        "".join(rng.choice(letters) for _ in range(rng.randint(2, 10)))
        for _ in range(3000)
    ]


def _words(vocab: list[str], seed: int, doc_id: int) -> list[str]:
    rng = random.Random(f"words:{seed}:{doc_id}")
    return rng.sample(vocab, rng.randint(40, 200))


def digest(kind, n_dropped, extracted_text, spans) -> str:
    """Canonical per-turn digest shared by the oracle side and the output side.

    ``spans`` are (span_idx, kind, text, score, bbox|None) sequences."""
    canon = (
        kind,
        int(n_dropped),
        extracted_text,
        [
            (int(i), k, t, float(s), None if b is None else [int(x) for x in b])
            for i, k, t, s, b in spans
        ],
    )
    return hashlib.blake2b(repr(canon).encode("utf-8"), digest_size=16).hexdigest()


def oracle_digest(text) -> tuple[str, str]:
    from paddleocr_spark.oracle import oracle_extract

    o = oracle_extract(text)
    return o["kind"], digest(o["kind"], o["n_dropped"], o["extracted_text"], o["spans"])


def _gen_chunk(task):
    """Pool task: (seed, [(doc_id, turn_idx), ...]) → transcript row tuples."""
    from paddleocr_spark import corpus

    seed, keys = task
    vocab = _vocab(seed)
    words: dict[int, list[str]] = {}
    out = []
    for doc_id, t in keys:
        if doc_id not in words:
            words[doc_id] = _words(vocab, seed, doc_id)
        r = corpus.turn_row(doc_id, seed, t, words[doc_id])
        out.append((r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"]))
    return out


def _oracle_chunk(texts):
    """Pool task: payloads → [(kind, digest), ...]."""
    return [oracle_digest(t) for t in texts]


R6_MARK = "/Filter /Standard /V 5 /R 6"
_R6_U_RE = re.compile(r"/U <([0-9a-fA-F]+)>")


def r6_key(text) -> str | None:
    """The R6 key a payload's decryption derives (its /U entry, or the whole
    payload when /U is not a hex string), or None for any other payload."""
    if not text or R6_MARK not in text:
        return None
    m = _R6_U_RE.search(text)
    return m.group(1) if m else text


def _load_r6_pool(cache_dir: str) -> None:
    """Pool initializer: the generator's four R6 key entries are a fixed,
    seed-independent pure function costing ~10 s of KDF per process; load
    them from the cache when present (the pin check still covers them)."""
    from paddleocr_spark import corpus

    path = os.path.join(cache_dir, "r6pool.json")
    if os.path.exists(path) and not corpus._R6_POOL:
        with open(path) as f:
            corpus._R6_POOL.extend(tuple(bytes.fromhex(x) for x in e) for e in json.load(f))


def _save_r6_pool(cache_dir: str) -> None:
    from paddleocr_spark import corpus

    path = os.path.join(cache_dir, "r6pool.json")
    if not os.path.exists(path):
        entries = [[x.hex() for x in e] for e in corpus._r6_pool()]
        with open(path + ".tmp", "w") as f:
            json.dump(entries, f)
        os.replace(path + ".tmp", path)


# -- workload layouts -------------------------------------------------------

def layout(workload: str, seed: int) -> list[list[tuple[int, int]]]:
    """Files of (doc_id, turn_idx) keys, in write order."""
    from paddleocr_spark import corpus

    if workload == "job_mixed":
        files = [[] for _ in range(JOB_FILES)]
        for d in range(JOB_DOCS):
            for t in range(corpus.n_turns_for(d)):
                files[d * JOB_FILES // JOB_DOCS].append((d, t))
        return files
    if workload == "stream_trickle":
        keys = []
        d = 0
        while len(keys) < STREAM_FILES * STREAM_FILE_TURNS:
            keys.extend((d, t) for t in range(corpus.n_turns_for(d)))
            d += 1
        keys = keys[: STREAM_FILES * STREAM_FILE_TURNS]
        return [
            keys[i : i + STREAM_FILE_TURNS]
            for i in range(0, len(keys), STREAM_FILE_TURNS)
        ]
    raise ValueError(f"unknown workload {workload!r}")


# -- generation, cache and pin ---------------------------------------------

def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _rows_fingerprint(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r[:5] + (r[5].isoformat(),)).encode("utf-8"))
    return h.hexdigest()


def _pin_keys():
    from paddleocr_spark import corpus

    keys = [(d, t) for d in PIN_DOCS for t in range(corpus.n_turns_for(d))]
    return keys + PIN_R6_TURNS


def _generate(tasks, procs: int, cache_dir: str):
    """Rows for each (seed, keys) task plus their oracle (kind, digest).

    Two passes over one spawn pool: rows, then digests. The oracle pays a
    ~2.7 s derivation per R6 key and process, so R6 payloads are grouped by
    key (their /U entry), one digest task per key, instead of costing every
    process every key."""
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs, initializer=_init_worker, initargs=(cache_dir,)) as pool:
        chunks = pool.map(_gen_chunk, tasks, chunksize=1)
        flat = [r for c in chunks for r in c]
        by_key: dict[str, list[int]] = {}
        rest = []
        for i, r in enumerate(flat):
            key = r6_key(r[3])
            (rest if key is None else by_key.setdefault(key, [])).append(i)
        step = max(1, math.ceil(len(rest) / (procs * 6)))
        groups = list(by_key.values()) + [
            rest[i : i + step] for i in range(0, len(rest), step)
        ]
        digests = pool.map(
            _oracle_chunk, [[flat[i][3] for i in g] for g in groups], chunksize=1
        )
        pool.close()
        pool.join()
    oracle = [None] * len(flat)
    for g, d in zip(groups, digests):
        for i, kd in zip(g, d):
            oracle[i] = kd
    out, i = [], 0
    for c in chunks:
        out.append([r + oracle[i + j] for j, r in enumerate(c)])
        i += len(c)
    return out


def _init_worker(cache_dir: str) -> None:
    import sys

    root = os.path.dirname(HERE)
    if root not in sys.path:
        sys.path.insert(0, root)
    _load_r6_pool(cache_dir)


def check_generator_pin(cache_dir: str) -> dict:
    """Regenerate the pin sample's rows in-process and compare to pins.json."""
    _load_r6_pool(cache_dir)
    rows = _gen_chunk((PIN_SEED, _pin_keys()))
    _save_r6_pool(cache_dir)
    pins = load_pins()
    got = _rows_fingerprint(rows)
    if got != pins["rows"]:
        raise InputRefused(
            f"generator drifted: pin sample rows sha256 {got} != pinned {pins['rows']}"
        )
    return pins


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def _write_table(path: str, rows) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in range(6)]
    tbl = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(
                [t.astimezone(timezone.utc) for t in cols[5]],
                pa.timestamp("us", tz="UTC"),
            ),
        },
        schema=SCHEMA,
    )
    pq.write_table(tbl, path, compression="zstd")


class Input:
    """A materialized, verified workload input."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest = manifest
        self.n_turns = manifest["n_turns"]
        self.fingerprint = manifest["fingerprint"]

    def expected(self) -> dict:
        """{(conv_id, turn_idx): digest} from the cached oracle digests."""
        t = pq.read_table(os.path.join(self.path, "oracle.parquet"))
        return dict(
            zip(
                zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()),
                t["digest"].to_pylist(),
            )
        )


def _fingerprint(path: str, names: list[str]) -> str:
    h = hashlib.sha256()
    for n in names:
        h.update(n.encode())
        h.update(_sha256_file(os.path.join(path, n)).encode())
    return h.hexdigest()


def verify(path: str) -> Input:
    """Load a cached input; refuse it if any file changed since generation."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    names = [os.path.join("data", n) for n in manifest["files"]] + ["oracle.parquet"]
    got = _fingerprint(path, names)
    if got != manifest["fingerprint"]:
        raise InputRefused(
            f"input {path} altered: sha256 {got} != recorded {manifest['fingerprint']}"
        )
    return Input(path, manifest)


def materialize(workload: str, seed: int, cache_dir: str, procs: int) -> tuple[Input, float]:
    """Cached input for (workload, seed), generating it when absent.
    Returns the input and the seconds spent generating (0.0 on a cache hit)."""
    import time

    t0 = time.perf_counter()
    check_generator_pin(cache_dir)
    path = os.path.join(cache_dir, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(path, "manifest.json")):
        return verify(path), time.perf_counter() - t0

    files = layout(workload, seed)
    flat = [k for f in files for k in f]
    n_chunks = max(procs * 4, math.ceil(len(flat) / 600))
    step = math.ceil(len(flat) / n_chunks)
    tasks = [(PIN_SEED, _pin_keys())] + [
        (seed, flat[i : i + step]) for i in range(0, len(flat), step)
    ]
    results = _generate(tasks, procs, cache_dir)
    pins = load_pins()
    pin_digests = hashlib.sha256("".join(r[7] for r in results[0]).encode()).hexdigest()
    if pin_digests != pins["oracle"]:
        raise InputRefused(
            f"oracle drifted: pin sample digests sha256 {pin_digests} != pinned {pins['oracle']}"
        )
    rows = [r for chunk in results[1:] for r in chunk]

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    names, i = [], 0
    for fi, keys in enumerate(files):
        part = rows[i : i + len(keys)]
        i += len(keys)
        if not part:
            continue
        name = f"part-{fi:05d}.parquet"
        _write_table(os.path.join(tmp, "data", name), part)
        names.append(name)
    ot = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "kind": pa.array([r[6] for r in rows], pa.string()),
            "digest": pa.array([r[7] for r in rows], pa.string()),
        },
        schema=ORACLE_SCHEMA,
    )
    pq.write_table(ot, os.path.join(tmp, "oracle.parquet"))
    kinds: dict[str, int] = {}
    for r in rows:
        kinds[r[6]] = kinds.get(r[6], 0) + 1
    manifest = {
        "workload": workload,
        "seed": seed,
        "n_turns": len(rows),
        "kinds": kinds,
        "files": names,
        "r6_docs": sum(1 for r in rows if R6_MARK in (r[3] or "")),
        "in_bytes": sum(os.path.getsize(os.path.join(tmp, "data", n)) for n in names),
        "fingerprint": _fingerprint(
            tmp, [os.path.join("data", n) for n in names] + ["oracle.parquet"]
        ),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Input(path, manifest), time.perf_counter() - t0


def compute_pins(cache_dir: str, procs: int) -> dict:
    """Recompute the pin values (run ``python3 perfbench/inputs.py --pin`` to
    print them; pinning a new corpus is a deliberate edit of pins.json)."""
    _init_worker(cache_dir)
    rows = [r + oracle_digest(r[3]) for r in _gen_chunk((PIN_SEED, _pin_keys()))]
    from paddleocr_spark.corpus import CORPUS_VERSION

    return {
        "corpus_version": CORPUS_VERSION,
        "rows": _rows_fingerprint(rows),
        "oracle": hashlib.sha256("".join(r[7] for r in rows).encode()).hexdigest(),
        "turns": len(rows),
    }


if __name__ == "__main__":
    import sys

    if sys.argv[1:] == ["--pin"]:
        cache = os.path.join(os.path.dirname(HERE), ".perfbench", "cache")
        os.makedirs(cache, exist_ok=True)
        print(json.dumps(compute_pins(cache, 1), indent=1))
