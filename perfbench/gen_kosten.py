"""Seeded ``kosten`` dimension batches plus a plain-Python SCD2 model.

The batches are reference-dialect CSV (``;`` separated, cp1252, CRLF,
header row). Each daily batch mixes changed keys, brand-new keys,
unchanged re-sends, identical intra-batch duplicates, whitespace-padded
values and NULL<->value transitions. :class:`Scd2Model` applies the
same batches with the engine's documented semantics (trim, dedup-latest,
null-safe change detection, close + insert) so every merge has an
expected ``MergeStats`` and the final dimension an expected digest,
computed without Spark.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

KEY = "Kostenstelle"
COMPARE = ("Bezeichnung", "Bereich")
HEADER = (KEY,) + COMPARE
# a daily batch, as fractions of the current key count: changed keys,
# brand-new keys and unchanged re-sends; DUP_FRAC is the share of batch
# rows repeated verbatim (identical intra-batch duplicates)
DAILY_CHANGE, DAILY_NEW, DAILY_RESEND = 0.045, 0.01, 0.005
DUP_FRAC = 0.02

BEREICHE = (
    "Vertrieb", "Produktion", "Verwaltung", "Forschung", "Logistik",
    "Einkauf", "Personal", "Qualität", "Außendienst", "Kundendienst",
)
_WORDS = (
    "Müller", "Schäfer", "Größe", "Süd", "Nord", "Ost", "West", "Werk",
    "Halle", "Büro", "Lager", "Zentrale", "Filiale", "Projekt", "Straße",
    "Fähre", "Köln", "München", "Düsseldorf", "Gießen", "Team", "Gruppe",
)


def key_name(i: int) -> str:
    return f"KST{i:07d}"


def _bezeichnung(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {rng.randrange(1000)}"


def _attrs(rng: random.Random) -> tuple[str | None, str | None]:
    bez = None if rng.random() < 0.03 else _bezeichnung(rng)
    ber = None if rng.random() < 0.05 else rng.choice(BEREICHE)
    return bez, ber


def _changed(rng: random.Random, old: tuple[str | None, str | None]):
    """A different attribute pair; a third of the changes are
    NULL<->value transitions."""
    bez, ber = old
    roll = rng.random()
    if roll < 0.33:
        ber = rng.choice(BEREICHE) if ber is None else None
    elif roll < 0.5:
        bez = _bezeichnung(rng) if bez is None else None
    else:
        while True:
            new = _bezeichnung(rng)
            if new != bez:
                bez = new
                break
    return bez, ber


def _pad(rng: random.Random, v: str | None) -> str:
    if v is None:
        return ""  # empty field reads back as NULL
    if rng.random() < 0.08:
        return " " * rng.randint(1, 2) + v + " " * rng.randint(0, 3)
    return v


def to_csv(rows: list[tuple[str, str | None, str | None]], rng: random.Random) -> bytes:
    lines = [";".join(HEADER)]
    for k, bez, ber in rows:
        lines.append(";".join((_pad(rng, k), _pad(rng, bez), _pad(rng, ber))))
    return ("\r\n".join(lines) + "\r\n").encode("cp1252")


@dataclass
class Version:
    bez: str | None
    ber: str | None
    valid_from: str
    valid_to: str | None = None


@dataclass
class Stats:
    unchanged: int
    new_keys: int
    updated_keys: int

    def as_dict(self) -> dict[str, int]:
        return {
            "unchanged": self.unchanged,
            "new_keys": self.new_keys,
            "updated_keys": self.updated_keys,
        }


@dataclass
class Scd2Model:
    """Expected dimension state: key -> versions, oldest first."""

    history: dict[str, list[Version]] = field(default_factory=dict)

    def current(self, key: str) -> Version | None:
        vs = self.history.get(key)
        return vs[-1] if vs and vs[-1].valid_to is None else None

    def merge(self, latest: dict[str, tuple[str | None, str | None]], run_ts: str) -> Stats:
        """Apply one deduplicated batch (key -> attrs)."""
        new = upd = same = 0
        bootstrap = not self.history
        for k, (bez, ber) in latest.items():
            cur = self.current(k)
            if cur is None:
                new += 1
                self.history.setdefault(k, []).append(Version(bez, ber, run_ts))
            elif (cur.bez, cur.ber) != (bez, ber):
                upd += 1
                cur.valid_to = run_ts
                self.history[k].append(Version(bez, ber, run_ts))
            else:
                same += 1
        if bootstrap:
            return Stats(0, new, 0)
        return Stats(same, new, upd)

    def current_rows(self) -> list[tuple[str, str | None, str | None, str]]:
        out = []
        for k in sorted(self.history):
            cur = self.current(k)
            if cur is not None:
                out.append((k, cur.bez, cur.ber, cur.valid_from))
        return out

    def rows_for(self, keys) -> list[tuple]:
        out = []
        for k in sorted(keys):
            for v in self.history.get(k, ()):
                out.append((k, v.bez, v.ber, v.valid_from, v.valid_to, v.valid_to is None))
        return out


def digest(rows) -> str:
    """Order-insensitive digest of dimension rows (tuples of str/None/bool)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Batch:
    csv: bytes
    rows: int
    latest: dict[str, tuple[str | None, str | None]]


class KostenGenerator:
    """Seeded daily batches over a dimension of ``n_keys`` keys."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.state: dict[str, tuple[str | None, str | None]] = {}
        self.next_key = 0

    def _fresh(self, n: int) -> dict[str, tuple[str | None, str | None]]:
        out = {}
        for _ in range(n):
            out[key_name(self.next_key)] = _attrs(self.rng)
            self.next_key += 1
        return out

    def bootstrap(self) -> Batch:
        latest = self._fresh(self.n_keys)
        self.state.update(latest)
        rows = [(k, *v) for k, v in latest.items()]
        return Batch(to_csv(rows, self.rng), len(rows), latest)

    def snapshot(self, change_frac: float, new_frac: float, resend_frac: float) -> dict:
        """Next key -> attrs change set (one row per key), applied to the
        generator's own state."""
        keys = list(self.state)
        n = len(keys)
        picked = self.rng.sample(keys, int(n * (change_frac + resend_frac)))
        n_chg = int(n * change_frac)
        latest = {}
        for i, k in enumerate(picked):
            latest[k] = _changed(self.rng, self.state[k]) if i < n_chg else self.state[k]
        latest.update(self._fresh(max(1, int(n * new_frac))))
        self.state.update(latest)
        return latest

    def daily(self) -> Batch:
        latest = self.snapshot(DAILY_CHANGE, DAILY_NEW, DAILY_RESEND)
        rows = [(k, *v) for k, v in latest.items()]
        rows += self.rng.sample(rows, int(len(rows) * DUP_FRAC))
        self.rng.shuffle(rows)
        return Batch(to_csv(rows, self.rng), len(rows), latest)
