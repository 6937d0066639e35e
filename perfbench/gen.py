"""Seeded input generators and their expected answers.

Pure Python (no Spark): every input the benchmark feeds the engine is
made here from ``--seed``, together with the answer the engine must
produce for it, so a run can check its outputs without a second engine.
The same seed gives byte-identical inputs and answers.

Device messages (speed and batch layers)
    ``N_USERS`` users (the provisioner's 20 seeded ``user_metadata``
    ids), ``N_ANTENNAS`` antennas and ``N_APPS`` apps; ``bytes`` is an
    integer in [``MIN_BYTES``, ``MAX_BYTES``]. Events are emitted in
    event-time order with at most ``MAX_DISORDER_S`` seconds of jitter,
    which is inside the speed layer's 15 s watermark, and a speed-layer
    file covers whole 90 s windows, so no row is ever legitimately
    dropped and every window belongs to exactly one file.

Curation days
    Monotonic ``doc_id``s. Each day has fixed shares of quality
    failures (three words, below the five-word gate), exact copies of
    an archived kept doc, near copies of one (one word of 30-60
    replaced: word-3-gram Jaccard about 0.85, over the 0.5 threshold)
    and fresh docs. Words are 4-9 random letters, so no generated word
    is a stopword and fresh docs share no word-3-gram.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import string
from collections import defaultdict

from kcbdml9_big_data_processing_spark.provisioner import seed_users

EPOCH0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

N_USERS = 20
N_ANTENNAS = 40
N_APPS = 8
#: at batch_layer's 40000 rows an hour, about 8 of the 20 users go over
#: their quota, so the quota report is neither empty nor everyone
MIN_BYTES, MAX_BYTES = 10, 190
MAX_DISORDER_S = 10

#: speed layer: 90 s windows, each landed file covers two of them
WINDOW_S = 90
FILE_SPAN_S = 2 * WINDOW_S

SPEED_METRICS = (
    ("antenna_id", "antenna_bytes_total"),
    ("id", "user_bytes_total"),
    ("app", "app_bytes_total"),
)
BATCH_METRICS = (
    ("antenna_id", "antenna_bytes_total"),
    ("email", "email_bytes_total"),
    ("app", "app_bytes_total"),
)

#: curation day shares, per 1000 docs
QUALITY_PER_MILLE = 100
EXACT_PER_MILLE = 100
NEAR_PER_MILLE = 100


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"{seed}:{purpose}")


def users() -> list[tuple[str, str, str, int]]:
    """(id, name, email, quota) of the ``user_metadata`` dimension."""
    return seed_users()[:N_USERS]


def _keys():
    ids = [u[0] for u in users()]
    antennas = [f"ant-{i:03d}" for i in range(N_ANTENNAS)]
    apps = [f"app-{i}" for i in range(N_APPS)]
    return ids, antennas, apps


def device_rows(
    rng: random.Random, start_s: int, span_s: int, n_rows: int
) -> list[tuple[int, str, str, int, str]]:
    """``n_rows`` messages ``(epoch_s, id, antenna_id, bytes, app)`` with
    event times in ``[start_s, start_s + span_s)``, listed in event-time
    order up to ``MAX_DISORDER_S`` of jitter."""
    ids, antennas, apps = _keys()
    times = rng.choices(range(start_s, start_s + span_s), k=n_rows)
    rows = list(
        zip(
            times,
            rng.choices(ids, k=n_rows),
            rng.choices(antennas, k=n_rows),
            rng.choices(range(MIN_BYTES, MAX_BYTES + 1), k=n_rows),
            rng.choices(apps, k=n_rows),
        )
    )
    jitter = rng.choices(range(MAX_DISORDER_S + 1), k=n_rows)
    order = sorted(range(n_rows), key=lambda i: (times[i] + jitter[i], i))
    return [rows[i] for i in order]


def iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def json_lines(rows) -> bytes:
    """Wire format of the speed layer: one JSON device message a line."""
    return "".join(
        json.dumps(
            {"timestamp": iso(t), "id": u, "antenna_id": a, "bytes": b, "app": p},
            separators=(",", ":"),
        )
        + "\n"
        for t, u, a, b, p in rows
    ).encode()


#: position of each grouping key in a device row
_COLUMN = {"id": 1, "antenna_id": 2, "app": 4}


def window_sums(rows, window_s: int, metrics) -> dict[tuple, int]:
    """{(tag, window_start_s, key): sum(bytes)} for each (key, tag)."""
    email = {u[0]: u[2] for u in users()}
    out: dict[tuple, int] = defaultdict(int)
    for key, tag in metrics:
        if key == "email":
            keys = [email[row[1]] for row in rows]
        else:
            col = _COLUMN[key]
            keys = [row[col] for row in rows]
        for row, k in zip(rows, keys):
            out[(tag, row[0] - row[0] % window_s, k)] += row[3]
    return dict(out)


def speed_files(seed: int, n_files: int, rows_per_file: int):
    """The speed layer's landed files: [(json bytes, rows)], file ``k``
    covering event time ``[EPOCH0 + k*FILE_SPAN_S, +FILE_SPAN_S)``."""
    rng = _rng(seed, "speed")
    base = int(EPOCH0.timestamp())
    files = []
    for k in range(n_files):
        rows = device_rows(rng, base + k * FILE_SPAN_S, FILE_SPAN_S, rows_per_file)
        files.append((json_lines(rows), rows))
    return files


def speed_expected(rows) -> dict[tuple, int]:
    """{(tag, window_start_s, key): bytes} of the three speed metrics."""
    return window_sums(rows, WINDOW_S, SPEED_METRICS)


def batch_hours(seed: int, n_hours: int, rows_per_hour: int):
    """Archived device messages, hour ``h`` starting at
    ``EPOCH0 + h hours``: [rows of hour 0, rows of hour 1, ...]."""
    rng = _rng(seed, "batch")
    base = int(EPOCH0.timestamp())
    out = []
    for h in range(n_hours):
        rows = device_rows(rng, base + h * 3600, 3600, rows_per_hour)
        out.append(sorted(rows))
    return out


def batch_expected(rows) -> tuple[dict[tuple, int], set[tuple]]:
    """One hour's expected serving rows: ``bytes_hourly`` as
    {(tag, hour_start_s, key): bytes} and ``user_quota_limit`` as
    {(email, usage, quota, hour_start_s)} for usage over quota."""
    hourly = window_sums(rows, 3600, BATCH_METRICS)
    quota = {u[2]: u[3] for u in users()}
    over = {
        (email, usage, quota[email], start)
        for (tag, start, email), usage in hourly.items()
        if tag == "email_bytes_total" and usage > quota[email]
    }
    return hourly, over


# -- curation -----------------------------------------------------------


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add(
            "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(4, 9)))
        )
    return sorted(words)


class CurationCorpus:
    """Day 0 (the base corpus) and incremental days 1..n, each doc
    carrying the decision a correct curator gives it.

    ``docs(day)`` -> [(doc_id, text)]; ``expected(day)`` ->
    {doc_id: (reason, canonical_id or None)}. Copies (exact or near)
    always take their source from docs kept on an earlier day, so the
    canonical is that source."""

    def __init__(self, seed: int, base_docs: int, day_docs: int, n_days: int):
        rng = _rng(seed, "curate")
        self._vocab = _vocabulary(rng, 6000)
        self._days: list[list[tuple[int, str]]] = []
        self._expected: list[dict[int, tuple[str, int | None]]] = []
        kept: list[tuple[int, str]] = []
        seen: set[str] = set()
        next_id = 1
        for day in range(n_days + 1):
            n = base_docs if day == 0 else day_docs
            kinds = self._kinds(rng, n, incremental=day > 0)
            docs, exp, fresh = [], {}, []
            for kind in kinds:
                doc_id, next_id = next_id, next_id + 1
                if kind == "quality":
                    text = self._text(rng, 3)
                    exp[doc_id] = ("quality", None)
                elif kind == "exact":
                    src_id, text = rng.choice(kept)
                    exp[doc_id] = ("exact_dup", src_id)
                elif kind == "near":
                    src_id, src = rng.choice(kept)
                    words = src.split(" ")
                    while " ".join(words) in seen:
                        words[len(words) // 2] = self._fresh_word(rng, set(words))
                    text = " ".join(words)
                    exp[doc_id] = ("near_dup", src_id)
                else:
                    text = self._text(rng, rng.randint(30, 60))
                    exp[doc_id] = ("kept", None)
                    fresh.append((doc_id, text))
                docs.append((doc_id, text))
                seen.add(text)
            kept.extend(fresh)
            self._days.append(docs)
            self._expected.append(exp)

    @staticmethod
    def _kinds(rng: random.Random, n: int, incremental: bool) -> list[str]:
        n_quality = n * QUALITY_PER_MILLE // 1000
        n_exact = n * EXACT_PER_MILLE // 1000 if incremental else 0
        n_near = n * NEAR_PER_MILLE // 1000 if incremental else 0
        kinds = (
            ["quality"] * n_quality
            + ["exact"] * n_exact
            + ["near"] * n_near
        )
        kinds += ["fresh"] * (n - len(kinds))
        rng.shuffle(kinds)
        return kinds

    def _text(self, rng: random.Random, n_words: int) -> str:
        return " ".join(rng.choice(self._vocab) for _ in range(n_words))

    def _fresh_word(self, rng: random.Random, avoid: set[str]) -> str:
        while True:
            w = rng.choice(self._vocab)
            if w not in avoid:
                return w

    @property
    def n_days(self) -> int:
        return len(self._days) - 1

    def docs(self, day: int) -> list[tuple[int, str]]:
        return self._days[day]

    def expected(self, day: int) -> dict[int, tuple[str, int | None]]:
        return self._expected[day]


def decision_hash(decisions) -> str:
    """Order-insensitive sha256 of (doc_id, reason, canonical_id) rows."""
    h = hashlib.sha256()
    for doc_id, reason, canon in sorted(
        decisions, key=lambda r: (r[0], r[1], -1 if r[2] is None else r[2])
    ):
        h.update(f"{doc_id}|{reason}|{canon}\n".encode())
    return h.hexdigest()
