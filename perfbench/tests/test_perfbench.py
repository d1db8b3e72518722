"""The benchmark's own tests, at tiny size.

    python3 -m pytest perfbench/tests -q

The gate tests run without Spark; the end-to-end tests start a local
session per run (about half a minute each).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import gate, inputs, probes  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = 0.01


def _engine_frame(expected: dict) -> pd.DataFrame:
    """What a correct engine would return for ``expected``: spans as the
    list-of-dicts Arrow hands back."""
    rows = []
    for (cid, tidx), (kind, text, spans, md, err) in expected.items():
        rows.append(
            {
                "conv_id": cid,
                "turn_idx": tidx,
                "payload_kind": kind,
                "extracted_text": text,
                "spans": [dict(zip(("start", "end", "kind", "ref"), s)) for s in spans],
                "md": md,
                "error": err,
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def mix_expected() -> dict:
    rows, oracle = inputs.make_chunk("mix", seed=3, chunk=0, scale=0.05)
    assert len(rows) == len(oracle) > 20
    return gate.oracle_records(inputs._table(oracle, inputs.ORACLE_SCHEMA))


def test_correct_output_passes(mix_expected):
    res = gate.check_turns(_engine_frame(mix_expected), mix_expected)
    assert res.ok and res.attempted == len(mix_expected) and res.failed == 0


def test_corrupted_turn_fails(mix_expected):
    out = _engine_frame(mix_expected)
    i = out.index[out["payload_kind"] == "plain"][0]
    out.loc[i, "extracted_text"] = out.loc[i, "extracted_text"] + " "
    res = gate.check_turns(out, mix_expected)
    assert not res.ok and res.failed == 1


def test_corrupted_span_fails(mix_expected):
    out = _engine_frame(mix_expected)
    i = out.index[out["spans"].map(len) > 0][0]
    out.at[i, "spans"] = [dict(out.at[i, "spans"][0], end=out.at[i, "spans"][0]["end"] + 1)]
    assert gate.check_turns(out, mix_expected).failed == 1


def test_duplicated_turn_fails(mix_expected):
    out = _engine_frame(mix_expected)
    out = pd.concat([out, out.iloc[[5]]], ignore_index=True)
    res = gate.check_turns(out, mix_expected)
    assert not res.ok and res.failed == 1


def test_missing_and_unexpected_turns_fail(mix_expected):
    out = _engine_frame(mix_expected).drop(index=[0])
    assert gate.check_turns(out, mix_expected).failed == 1
    extra = _engine_frame(mix_expected)
    extra.loc[len(extra)] = extra.iloc[0].to_dict() | {"turn_idx": 10_000}
    assert gate.check_turns(extra, mix_expected).failed == 1


def test_conversation_and_rank_checks():
    expected = {
        ("a", 0): ("plain", "x", (), "x", None),
        ("a", 1): ("error", None, (), None, "bad"),
        ("a", 2): ("plain", "y", (), "y", None),
        ("b", 0): ("plain", "z", (), "z", None),
    }
    conv = pd.DataFrame({"conv_id": ["a", "b"], "conv_md": ["x\n\ny", "z"], "n_turns": [3, 1]})
    assert gate.check_conversations(conv, expected).ok
    conv.loc[0, "conv_md"] = "y\n\nx"  # out of turn order
    res = gate.check_conversations(conv, expected)
    assert res.failed == 3
    ranks = pd.DataFrame({"conv_id": ["a", "a", "b"], "turn_idx": [5, 2, 0], "turn_rank": [2, 1, 1]})
    assert gate.check_ranks(ranks).ok
    ranks.loc[0, "turn_rank"] = 1
    assert gate.check_ranks(ranks).failed == 1


def test_generation_is_seeded():
    a = inputs.make_chunk("skew", seed=5, chunk=1, scale=TINY)
    b = inputs.make_chunk("skew", seed=5, chunk=1, scale=TINY)
    c = inputs.make_chunk("skew", seed=6, chunk=1, scale=TINY)
    assert a == b and a != c
    rows = a[0]
    hot = sum(1 for r in rows if r[0] == "conv-hot")
    assert hot == len(rows) // 2
    assert {o[2] for o in a[1]} == {"plain"}
    assert [r[:2] for r in rows] == [r[:2] for r in c[0]]  # the seed draws text only


def test_tracer_self_time():
    tr = Tracer(enabled=True)
    tr.run_id = "pass-0"
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    layers = tr.self_times()
    assert layers["inner"]["self_s"] == pytest.approx(layers["inner"]["total_s"])
    outer = layers["outer"]
    assert outer["self_s"] == pytest.approx(outer["total_s"] - layers["inner"]["total_s"])
    assert tr.spans[1]["parent"] == tr.spans[0]["id"] and tr.spans[1]["run"] == "pass-0"
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tree_rss_sees_children():
    import subprocess

    alone = sum(probes.tree_rss(os.getpid()).values())
    child = subprocess.Popen([sys.executable, "-c", "import time; x = b'x' * 50_000_000; time.sleep(5)"])
    try:
        time.sleep(1.5)
        with_child = sum(probes.tree_rss(os.getpid()).values())
    finally:
        child.kill()
        child.wait(timeout=10)
    assert with_child > alone + 40_000_000


def _names(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["extract_mixed"])
@pytest.mark.parametrize("trace", [False, True])
def test_run_prints_every_metric(workload, trace):
    from perfbench.run import run

    result = run(workload, seed=1, seconds=0.1, trace=trace, scale=TINY)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    want = _names("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "checkpoint_resume":
        assert result["metrics"]["catalog.commits"]["value"] > 0
    elif workload == "ordered_skew":
        m = result["metrics"]
        assert m["extractors.turns.plain"]["value"] > result["attempted"] / 2
    json.dumps(result)  # the line the CLI prints
