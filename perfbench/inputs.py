"""Seeded workload inputs plus their per-turn oracle, cached on disk.

Two input families feed the three workloads:

* ``mix`` — ``fixtures.gen`` transcripts in the ``unit`` profile (plain
  prose, boilerplate HTML, multi-page PDF-layout JSON, edge and error
  rows), dealt conversation by conversation into ``2 x slots`` equal
  Parquet files so the scan arrives evenly split.
* ``skew`` — agent-loop traffic: short plain messages, one conversation
  holding half of all turns, written conversation-grouped into
  ``SKEW_FILES`` files (a table bucketed by ``conv_id``), fewer than the
  task slots.  The seed draws the message text only: conversation sizes
  are fixed, so the shuffle sizes AQE coalesces on, and with them the
  partitions entering the kernel, do not change from seed to seed.

Generation and the oracle (``extract_turn_golden`` on every turn) run in a
child process (``python3 -m perfbench.inputs``) with a spawned pool, before
Spark starts, and are excluded from every metric.  A family is cached under
``<cache>/<family>-s<seed>-n<slots>-x<scale>-v<N>/`` and published with one
``os.replace``, so a killed generation never leaves a half-written cache
entry behind.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import uuid
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
import datetime as dt
import multiprocessing

import pyarrow as pa
import pyarrow.parquet as pq

# bump when generation or the on-disk layout changes: old entries go stale
INPUT_VERSION = 3

CHUNKS = 8  # generation units; chunk c draws from its own seed

MIX_CONVS_PER_CHUNK = 300  # x ~10 turns x 8 chunks ~= 24k turns
SKEW_TURNS_PER_CHUNK = 10_000  # 8 chunks = 80k turns, half in conv 0
SKEW_TAIL_TURNS = (10, 50)  # turns per non-hot conversation, cycled
SKEW_FILES = 2  # the hot conversation's bucket and everything else

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
ROLES = ("user", "assistant", "tool", "system")

INPUT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ORACLE_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("payload_kind", pa.string()),
        pa.field("extracted_text", pa.string()),
        pa.field("spans", pa.string()),  # JSON list of [start, end, kind, ref]
        pa.field("md", pa.string()),
        pa.field("error", pa.string()),
    ]
)

_AGENT_WORDS = (
    "run tests build ok failed passed retry step tool call output file "
    "patch diff apply read write list search result error warning done "
    "plan next check lint module function class value config path status"
).split()


@dataclass(frozen=True)
class InputSet:
    """One generated family on disk: the input table and its oracle."""

    family: str
    seed: int
    root: str
    n_turns: int
    n_bytes: int  # UTF-8 bytes of text + tool over all turns
    kinds: dict[str, int]  # oracle payload_kind -> turns

    @property
    def table_dir(self) -> str:
        return os.path.join(self.root, "transcripts")

    @property
    def oracle_path(self) -> str:
        return os.path.join(self.root, "oracle.parquet")

    def read_table(self) -> pa.Table:
        return pq.read_table(self.table_dir, schema=INPUT_SCHEMA)

    def read_oracle(self) -> pa.Table:
        return pq.read_table(self.oracle_path)


def _agent_message(rng: random.Random) -> str:
    """A short agent-loop message; a quarter carry runs of whitespace so the
    plain normaliser's collapse path is exercised."""
    words = [rng.choice(_AGENT_WORDS) for _ in range(rng.randint(4, 24))]
    text = " ".join(words).capitalize() + "."
    if rng.random() < 0.25:
        text = text.replace(" ", "  \t", 2) + "\n\n" + rng.choice(_AGENT_WORDS)
    return text


def _mix_rows(seed: int, chunk: int, scale: float) -> list[tuple]:
    from mistral_ocr_pipeline_spark.fixtures.gen import gen_transcripts

    rows = gen_transcripts(
        max(1, round(MIX_CONVS_PER_CHUNK * scale)), (5, 15), seed=seed * 1000 + chunk,
        profile="unit",
    )
    prefix = f"conv-{chunk:02d}-"
    return [(prefix + r[0][5:],) + tuple(r[1:]) for r in rows]


def _skew_rows(seed: int, chunk: int, scale: float) -> list[tuple]:
    """Chunk ``c`` holds turns ``[c*h, (c+1)*h)`` of the hot conversation
    (``h`` = half the chunk's turns) plus tail conversations of its own
    until it reaches ``SKEW_TURNS_PER_CHUNK * scale`` turns."""
    rng = random.Random(seed * 1000 + chunk)
    size = max(2, round(SKEW_TURNS_PER_CHUNK * scale))
    hot = size // 2
    convs = [("conv-hot", 0, range(chunk * hot, (chunk + 1) * hot))]
    left, i = size - hot, 0
    lo, hi = SKEW_TAIL_TURNS
    while left > 0:
        n = min(left, lo + (i * 7) % (hi - lo + 1))
        convs.append((f"conv-{chunk:02d}-{i:05d}", 1 + chunk * 100_000 + i, range(n)))
        left -= n
        i += 1
    rows = []
    for conv_id, c, turns in convs:
        for t in turns:
            ts = _EPOCH + dt.timedelta(hours=c % 10_000, seconds=t)
            rows.append((conv_id, t, ROLES[(c + t) % 4], _agent_message(rng), None, ts))
    return rows


def _oracle(rows: list[tuple]) -> list[tuple]:
    from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn_golden

    out = []
    for conv_id, turn_idx, _role, text, tool, _ts in rows:
        r = extract_turn_golden(text, tool)
        out.append(
            (
                conv_id,
                turn_idx,
                r["payload_kind"],
                r["extracted_text"],
                json.dumps([list(s) for s in r["spans"]]),
                r["md"],
                r["error"],
            )
        )
    return out


_GENERATORS = {"mix": _mix_rows, "skew": _skew_rows}


def make_chunk(
    family: str, seed: int, chunk: int, scale: float = 1.0
) -> tuple[list[tuple], list[tuple]]:
    """(input rows, oracle rows) for one chunk — the pool's unit of work.
    ``scale`` shrinks the chunk (the benchmark's own tests use tiny ones)."""
    rows = _GENERATORS[family](seed, chunk, scale)
    return rows, _oracle(rows)


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )


def _file_of(family: str, conv_id: str, conv_ordinal: int, slots: int) -> int:
    if family == "mix":  # deal conversations round-robin: an even split
        return conv_ordinal % (2 * slots)
    return 0 if conv_id == "conv-hot" else 1  # one file per conv_id bucket


def _write(family: str, seed: int, slots: int, scale: float, dest: str, workers: int) -> None:
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futs = [pool.submit(make_chunk, family, seed, c, scale) for c in range(CHUNKS)]
        parts = [f.result() for f in futs]
    rows = [r for p in parts for r in p[0]]
    oracle = [r for p in parts for r in p[1]]
    rows.sort(key=lambda r: (r[0], r[1]))  # conversation-grouped files
    oracle.sort(key=lambda r: (r[0], r[1]))

    n_files = 2 * slots if family == "mix" else SKEW_FILES
    by_file: list[list[tuple]] = [[] for _ in range(n_files)]
    ordinal, last = -1, None
    for r in rows:
        if r[0] != last:
            ordinal, last = ordinal + 1, r[0]
        by_file[_file_of(family, r[0], ordinal, slots)].append(r)
    tdir = os.path.join(dest, "transcripts")
    os.makedirs(tdir)
    for i, part in enumerate(by_file):
        pq.write_table(_table(part, INPUT_SCHEMA), os.path.join(tdir, f"part-{i:03d}.parquet"))
    pq.write_table(_table(oracle, ORACLE_SCHEMA), os.path.join(dest, "oracle.parquet"))

    kinds: dict[str, int] = {}
    for o in oracle:
        kinds[o[2]] = kinds.get(o[2], 0) + 1
    meta = {
        "n_turns": len(rows),
        "n_bytes": sum(len((r[3] or "").encode()) + len((r[4] or "").encode()) for r in rows),
        "kinds": kinds,
    }
    with open(os.path.join(dest, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def _entry_dir(family: str, seed: int, slots: int, scale: float, cache_dir: str) -> str:
    return os.path.join(cache_dir, f"{family}-s{seed}-n{slots}-x{scale:g}-v{INPUT_VERSION}")


def generate(
    family: str, seed: int, slots: int, scale: float, cache_dir: str, workers: int
) -> None:
    root = _entry_dir(family, seed, slots, scale, cache_dir)
    tmp = os.path.join(cache_dir, f".tmp-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        _write(family, seed, slots, scale, tmp, workers)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ensure_inputs(
    family: str, seed: int, slots: int, cache_dir: str, workers: int, scale: float = 1.0
) -> InputSet:
    """Reuse the cached ``family`` inputs for ``seed``, or generate them in
    a child process that has exited, pool and all, when this returns."""
    root = _entry_dir(family, seed, slots, scale, cache_dir)
    if not os.path.isfile(os.path.join(root, "meta.json")):
        args = [family, str(seed), str(slots), repr(scale), cache_dir, str(workers)]
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", *args],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            check=True,
            timeout=600,
        )
    with open(os.path.join(root, "meta.json")) as fh:
        meta = json.load(fh)
    return InputSet(family=family, seed=seed, root=root, **meta)


if __name__ == "__main__":
    fam, seed_, slots_, scale_, cache_, workers_ = sys.argv[1:]
    os.makedirs(cache_, exist_ok=True)
    generate(fam, int(seed_), int(slots_), float(scale_), cache_, int(workers_))
