"""Seeded input generators shared by the benchmark and its endpoint.

Everything here is a pure function of ``seed`` (and a key or index), so the
endpoint process and ``run.py`` derive identical data without exchanging
it: the endpoint serves ``record(seed, key)``, ``run.py`` joins against the
same function to build the expected output.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from typing import Dict, List, Sequence

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
CITIES = ("lisbon", "oslo", "kyoto", "lima", "perth", "quito", "tunis", "riga")
COUNTRIES = ("pt", "no", "jp", "pe", "au", "ec", "tn", "lv")
SEGMENTS = ("retail", "smb", "enterprise", "public")


def _rng(seed: int, *salt: int) -> random.Random:
    return random.Random(hash((seed,) + salt) & 0xFFFFFFFFFFFF)


# --- probe keys -------------------------------------------------------------


def uniform_keys(seed: int, n_rows: int, n_keys: int) -> List[int]:
    """``n_rows`` keys drawn uniformly from ``[0, n_keys)``."""
    rng = _rng(seed, 1)
    return [rng.randrange(n_keys) for _ in range(n_rows)]


class Zipf:
    """Zipf(s) sampler over ``[0, n_keys)``; rank 0 is the hottest key.
    Ranks map to keys through a seeded permutation so the hot set is not
    simply the smallest ids."""

    def __init__(self, seed: int, n_keys: int, s: float = 1.1) -> None:
        weights = [1.0 / (r + 1) ** s for r in range(n_keys)]
        self._cdf = list(itertools.accumulate(weights))
        self._total = self._cdf[-1]
        self._perm = list(range(n_keys))
        _rng(seed, 2).shuffle(self._perm)

    def key(self, u: float) -> int:
        """The key at quantile ``u`` in ``[0, 1)``."""
        rank = bisect.bisect_left(self._cdf, u * self._total)
        return self._perm[min(rank, len(self._perm) - 1)]


# --- lookup records ---------------------------------------------------------


def narrow_record(seed: int, key: int) -> Dict:
    """Five flat fields."""
    rng = _rng(seed, 3, key)
    return {
        "id": key,
        "name": f"cust-{key}-{rng.randrange(1000)}",
        "score": round(rng.uniform(0, 1000), 2),
        "tier": rng.randrange(5),
        "active": rng.random() < 0.7,
    }


def wide_record(seed: int, key: int) -> Dict:
    """Nested record: structs two levels deep, an array, 15 leaves."""
    rng = _rng(seed, 4, key)
    c = rng.randrange(len(CITIES))
    return {
        "id": key,
        "name": f"cust-{key}-{rng.randrange(1000)}",
        "score": round(rng.uniform(0, 1000), 2),
        "tier": rng.randrange(5),
        "profile": {
            "segment": rng.choice(SEGMENTS),
            "since": 1990 + rng.randrange(35),
            "geo": {
                "country": COUNTRIES[c],
                "city": CITIES[c],
                "lat": round(rng.uniform(-60, 60), 4),
                "lon": round(rng.uniform(-180, 180), 4),
            },
        },
        "tags": [rng.choice(VOCAB) for _ in range(rng.randrange(1, 5))],
        "stats": {
            "orders": rng.randrange(10_000),
            "spend": round(rng.uniform(0, 1e5), 2),
            "last": {"day": rng.randrange(1, 366),
                     "amount": round(rng.uniform(0, 500), 2)},
        },
    }


NARROW_DDL = "id BIGINT, name STRING, score DOUBLE, tier INT, active BOOLEAN"
WIDE_DDL = (
    "id BIGINT, name STRING, score DOUBLE, tier INT, "
    "profile STRUCT<segment: STRING, since: INT, geo: STRUCT<country: STRING, "
    "city: STRING, lat: DOUBLE, lon: DOUBLE>>, tags ARRAY<STRING>, "
    "stats STRUCT<orders: BIGINT, spend: DOUBLE, last: STRUCT<day: INT, "
    "amount: DOUBLE>>"
)
#: the wide workload's projection: 12 of the 15 leaves
WIDE_SELECT = (
    "name", "score", "tier", "profile.segment", "profile.geo.country",
    "profile.geo.city", "profile.geo.lat", "tags", "stats.orders",
    "stats.spend", "stats.last.day", "stats.last.amount",
)


def project(record: Dict, select: Sequence[str]) -> Dict:
    """``record`` pruned to the dotted ``select`` paths, keeping the
    record's own field order (the order a pruned schema declares)."""
    want: Dict[str, object] = {}
    for path in select:
        head, _, rest = path.partition(".")
        if not rest:
            want[head] = None  # whole field
        elif want.get(head, []) is not None:
            want.setdefault(head, []).append(rest)
    out = {}
    for name, value in record.items():
        if name not in want:
            continue
        subs = want[name]
        out[name] = value if subs is None or value is None else project(value, subs)
    return out


# --- event feed -------------------------------------------------------------

EVENT_DDL = "event_id BIGINT, key BIGINT, due_ms DOUBLE"


def event_page(seed: int, page: int, page_size: int, zipf: Zipf,
               due_ms: float) -> List[Dict]:
    """Page ``page`` of the feed: ``page_size`` events with Zipf keys, each
    stamped with the page's scheduled publish time (epoch ms)."""
    rng = _rng(seed, 5, page)
    base = page * page_size
    return [
        {"event_id": base + i, "key": zipf.key(rng.random()), "due_ms": due_ms}
        for i in range(page_size)
    ]


# --- corpus -----------------------------------------------------------------


def corpus(seed: int, n_docs: int) -> List[Dict]:
    """Documents shaped like the engine's ``documents`` table (doc_id, text,
    lang, source, n_chars). 5% are near-duplicates of an earlier document
    (its text plus a marker token) so the dedup operators find clusters;
    every document carries a seed-derived salt token so two seeds share no
    vocabulary state."""
    rng = _rng(seed, 6)
    salt = "s" + hashlib.blake2b(str(seed).encode(), digest_size=3).hexdigest()
    docs = []
    for doc_id in range(n_docs):
        if doc_id > 20 and rng.random() < 0.05:
            text = docs[rng.randrange(doc_id)]["text"] + " dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(8, 100))]
            words.insert(rng.randrange(len(words)), salt)
            text = " ".join(words)
        docs.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": f"src{doc_id % 20}",
            "n_chars": len(text),
        })
    return docs
