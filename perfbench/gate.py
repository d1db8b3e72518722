"""Correctness gate: engine output against the per-turn oracle.

A turn fails if it is missing from the output, appears more than once, or
any of ``(payload_kind, extracted_text, spans, md, error)`` differs from
``extract_turn_golden`` on the same input.  Output rows whose key is not an
input turn count as failed too.  Every other violation (layout, lineage)
is a named problem that makes the run incorrect.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

FIELDS = ("payload_kind", "extracted_text", "spans", "md", "error")


@dataclass
class GateResult:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.failed == 0 and not self.problems

    def fail(self, problem: str, turns: int = 0) -> None:
        self.failed += turns
        self.problems.append(problem)

    def merge(self, other: "GateResult") -> None:
        """Fold in the failures of another check on the same turns."""
        self.failed += other.failed
        self.problems.extend(other.problems)


def _text(v):
    return v if isinstance(v, str) else None  # pandas may hand NaN for null


def _spans(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    return tuple((int(s["start"]), int(s["end"]), s["kind"], s["ref"]) for s in v)


def oracle_records(oracle: pa.Table) -> dict[tuple[str, int], tuple]:
    cols = [oracle.column(c).to_pylist() for c in ("conv_id", "turn_idx") + FIELDS]
    out = {}
    for cid, tidx, kind, text, spans, md, err in zip(*cols):
        span_t = tuple(tuple(s) for s in json.loads(spans))
        out[(cid, tidx)] = (kind, text, span_t, md, err)
    return out


def check_turns(out, expected: dict[tuple[str, int], tuple]) -> GateResult:
    """``out``: pandas frame with ``conv_id``, ``turn_idx`` and ``FIELDS``."""
    res = GateResult(attempted=len(expected))
    got: dict[tuple[str, int], list[tuple]] = defaultdict(list)
    cols = [out[c].tolist() for c in ("conv_id", "turn_idx") + FIELDS]
    for cid, tidx, kind, text, spans, md, err in zip(*cols):
        got[(cid, int(tidx))].append((kind, _text(text), _spans(spans), _text(md), _text(err)))
    missing = dup = diff = 0
    for key, want in expected.items():
        rows = got.get(key)
        if not rows:
            missing += 1
        elif len(rows) > 1:
            dup += 1
        elif rows[0] != want:
            diff += 1
    extra = sum(len(v) for k, v in got.items() if k not in expected)
    for what, n in (("missing", missing), ("duplicated", dup), ("differing", diff), ("unexpected", extra)):
        if n:
            res.fail(f"{n} {what} turns", n)
    return res


def check_ranks(out) -> GateResult:
    """``turn_rank`` must number each conversation's turns 1..n in
    ``turn_idx`` order."""
    res = GateResult(attempted=len(out))
    by_conv: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for cid, tidx, rank in zip(out["conv_id"].tolist(), out["turn_idx"].tolist(), out["turn_rank"].tolist()):
        by_conv[cid].append((int(tidx), int(rank)))
    bad = 0
    for turns in by_conv.values():
        turns.sort()
        bad += sum(1 for i, (_t, r) in enumerate(turns, 1) if r != i)
    if bad:
        res.fail(f"{bad} turns with a wrong turn_rank", bad)
    return res


def check_conversations(conv, expected: dict[tuple[str, int], tuple]) -> GateResult:
    """Each ``conv_md`` must equal the driver-side join of the oracle ``md``
    in turn order (null ``md`` skipped, as ``array_join`` does) and
    ``n_turns`` the conversation's turn count; a wrong conversation fails
    all its turns."""
    turns: dict[str, list[tuple[int, str | None]]] = defaultdict(list)
    for (cid, tidx), rec in expected.items():
        turns[cid].append((tidx, rec[3]))
    res = GateResult(attempted=len(expected))
    got: dict[str, list[tuple]] = defaultdict(list)
    for cid, md, n in zip(conv["conv_id"].tolist(), conv["conv_md"].tolist(), conv["n_turns"].tolist()):
        got[cid].append((md, int(n)))
    bad_convs = bad_turns = 0
    for cid, ts in turns.items():
        ts.sort()
        want = ("\n\n".join(m for _t, m in ts if m is not None), len(ts))
        if got.get(cid) != [want]:
            bad_convs += 1
            bad_turns += len(ts)
    extra = sum(1 for c in got if c not in turns)
    if bad_convs or extra:
        res.fail(f"{bad_convs} wrong and {extra} unexpected conversations", bad_turns)
    return res
