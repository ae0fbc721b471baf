"""Seeded Debezium envelope generator and the pure-Python model the
benchmark checks the engine against.

Envelopes are rendered as JSONL in the wire shape of
``ez_cdc_spark.streaming.cdc.ENVELOPE_JSON_SCHEMA``. A stream starts with a
snapshot (op ``r``, one per key) and continues with change files whose op
mix is 10% inserts of new keys, 85% updates and 5% deletes of live keys,
plus ~1% re-sent duplicates of an envelope of the same file. The lsn rises
by one per envelope across the whole stream, so per-key order across files
is the commit order the engine sinks assume.

The model is the keyed state those envelopes imply: last writer wins by
lsn, a delete drops the key, a duplicate changes nothing. It also gives the
per-``first_name`` ``(n, sum_lsn)`` aggregate the change-feed consumer
maintains. This module imports nothing outside the standard library.
"""

from __future__ import annotations

import hashlib
import json
import random

NAMES = (
    "ada", "bo", "cy", "dee", "eli", "fay", "gus", "hal",
    "ivy", "jo", "kai", "lu",
)
BASE_TS_MS = 1_700_000_000_000
INSERT_P, UPDATE_P = 0.10, 0.85  # the rest (5%) are deletes
DUP_P = 0.01


def _source(lsn: int, snapshot: str) -> dict:
    return {
        "version": "2.4.0.Final", "connector": "postgresql", "name": "cdctest",
        "ts_ms": BASE_TS_MS + lsn, "snapshot": snapshot, "db": "cdctest",
        "sequence": json.dumps([None, str(lsn)]), "schema": "public",
        "table": "customers", "txId": lsn, "lsn": lsn, "xmin": None,
    }


def envelope(op: str, key: int, lsn: int, row: tuple | None, snapshot="false") -> dict:
    """One Debezium envelope. ``row`` is ``(first_name, last_name, email)``
    for every op but ``d``; ``before`` carries the key only, as
    ``derive_envelopes`` does."""
    after = None
    if op != "d":
        after = {"id": key, "first_name": row[0], "last_name": row[1], "email": row[2]}
    before = None
    if op in ("u", "d"):
        before = {"id": key, "first_name": None, "last_name": None, "email": None}
    return {
        "before": before, "after": after, "source": _source(lsn, snapshot),
        "op": op, "ts_ms": BASE_TS_MS + lsn + 120,
        "kafka_timestamp": BASE_TS_MS + lsn + 240,
    }


def render(env: dict) -> bytes:
    return json.dumps(env, separators=(",", ":")).encode() + b"\n"


def aggregate(state: dict) -> dict:
    """Per-first_name ``(n, sum_lsn)`` of a keyed state."""
    agg: dict = {}
    for lsn, first, _last, _email in state.values():
        n, s = agg.get(first, (0, 0))
        agg[first] = (n + 1, s + lsn)
    return agg


class EnvelopeStream:
    """A seeded change stream over one table plus its model.

    ``skew`` picks which live key an update or delete hits: ``"recent"``
    favours recently inserted keys (the cube of a uniform draw, measured
    back from the newest key), ``"uniform"`` draws every key alike.
    ``state`` maps key -> ``(lsn, first_name, last_name, email)`` after
    every envelope rendered so far; ``sha`` hashes every byte rendered.
    """

    def __init__(self, seed: int, tag: str, n_keys: int, skew: str = "recent"):
        if skew not in ("recent", "uniform"):
            raise ValueError(f"unknown skew {skew!r}")
        self.rng = random.Random(f"{seed}:{tag}")
        self.tag = tag
        self.skew = skew
        self.n_keys = n_keys
        self.next_key = 0
        self.lsn = 0
        self.state: dict[int, tuple] = {}
        self._sha = hashlib.sha256()
        self.n_envelopes = 0

    @property
    def sha(self) -> str:
        return self._sha.hexdigest()

    def _row(self, key: int) -> tuple:
        r = self.rng
        return (
            NAMES[r.randrange(len(NAMES))],
            f"ln{r.randrange(1_000_000)}",
            f"{key}.{self.lsn}@example.org",
        )

    def _emit(self, lines: list, env: dict) -> None:
        b = render(env)
        lines.append(b)
        self._sha.update(b)
        self.n_envelopes += 1

    def snapshot(self) -> bytes:
        """The initial snapshot: one op ``r`` envelope per key."""
        lines: list[bytes] = []
        for key in range(self.n_keys):
            self.lsn += 1
            row = self._row(key)
            self.state[key] = (self.lsn, *row)
            last = key == self.n_keys - 1
            self._emit(lines, envelope("r", key, self.lsn, row, "last" if last else "true"))
        self.next_key = self.n_keys
        return b"".join(lines)

    def _live_key(self) -> int | None:
        r = self.rng
        for _ in range(16):
            if self.skew == "recent":
                key = self.next_key - 1 - int(self.next_key * r.random() ** 3)
            else:
                key = r.randrange(self.next_key)
            if key in self.state:
                return key
        return None

    def changes(self, n: int) -> tuple[bytes, set]:
        """Render one change file of ``n`` envelopes plus re-sent
        duplicates; returns its bytes and the distinct keys it changed."""
        r = self.rng
        lines: list[bytes] = []
        touched: set[int] = set()
        for _ in range(n):
            u = r.random()
            key = None if u < INSERT_P else self._live_key()
            self.lsn += 1
            if key is None:
                key = self.next_key
                self.next_key += 1
                op = "c"
            else:
                op = "u" if u < INSERT_P + UPDATE_P else "d"
            if op == "d":
                del self.state[key]
                env = envelope("d", key, self.lsn, None)
            else:
                row = self._row(key)
                self.state[key] = (self.lsn, *row)
                env = envelope(op, key, self.lsn, row)
            touched.add(key)
            self._emit(lines, env)
            if r.random() < DUP_P:
                lines.append(lines[r.randrange(len(lines))])
                self._sha.update(lines[-1])
        return b"".join(lines), touched

    def new_rows(self, n: int) -> list[tuple]:
        """``n`` fresh keys as table rows ``(id, lsn, first, last, email)``,
        applied to the model (an append of new keys, no envelopes)."""
        rows = []
        for _ in range(n):
            key = self.next_key
            self.next_key += 1
            self.lsn += 1
            row = self._row(key)
            self.state[key] = (self.lsn, *row)
            rows.append((key, self.lsn, *row))
            self._sha.update(repr(rows[-1]).encode())
        return rows
