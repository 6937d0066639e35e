"""Output checks: compare what the engine wrote with the generator's
answers, op by op. Pure Python, so they are tested without Spark.

Each workload reads its outputs back once, after the pass, and groups
them by the op that produced them; an op whose group differs from the
generator's is counted in ``failed``.
"""

from __future__ import annotations

import datetime as dt


def epoch_s(ts: dt.datetime) -> int:
    """Epoch seconds of a naive UTC datetime (as Spark returns them
    with the process in UTC) or an aware one."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return int(ts.timestamp())


def group_by_op(rows, op_of, key_of, value_of) -> tuple[dict[int, dict], set[int]]:
    """({op: {key: value}}, ops holding a key twice)."""
    out: dict[int, dict] = {}
    twice: set[int] = set()
    for row in rows:
        op, key = op_of(row), key_of(row)
        group = out.setdefault(op, {})
        if key in group:
            twice.add(op)
        group[key] = value_of(row)
    return out, twice


def compare(expected: dict[int, object], got: dict[int, object], what: str) -> dict[int, str]:
    """{op: reason} for every op whose output differs from the expected
    one, and for outputs no op should have produced."""
    bad: dict[int, str] = {}
    for op, want in expected.items():
        have = got.get(op)
        if have != want:
            bad[op] = f"{what} differs from the generator's answer"
    for op in set(got) - set(expected):
        bad[op] = f"{what} holds output of no op"
    return bad


def merge(*bads: dict[int, str]) -> dict[int, str]:
    """First reason per op wins."""
    out: dict[int, str] = {}
    for bad in bads:
        for op, reason in bad.items():
            out.setdefault(op, reason)
    return out


def decisions_by_doc(rows) -> tuple[dict[int, tuple], bool]:
    """{doc_id: (reason, canonical or None)} and whether some doc got
    two decisions. The canonical counts only for duplicates."""
    got: dict[int, tuple] = {}
    twice = False
    for doc_id, reason, canon in rows:
        twice |= doc_id in got
        got[doc_id] = (reason, canon if reason in ("exact_dup", "near_dup") else None)
    return got, twice
