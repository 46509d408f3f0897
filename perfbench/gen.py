"""Seeded toot generator: Mastodon-shaped records written as recorded-topic
segments, in pure Python + pyarrow (no Spark, so it runs before the
SparkSession starts).

Segments carry the exact column layout of ``KAFKA_SCHEMA`` in
``sources/kafka_fake.py`` (key, value, topic, partition, offset, timestamp,
timestampType), keyed records spread over 3 partitions like the reference
broker, offsets continuing per partition across segments.

Every generated record keeps the values the engine is expected to derive
from it (``Rec``), so the reference computations in ``reference.py`` never
parse what the engine parses.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
import zlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 3
TOPIC = "toots"
KAFKA_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)

# 2025-10-03 00:00:00 UTC in epoch microseconds
T0_US = 1_759_449_600 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

# (layout name, precision in µs the layout keeps). The five layouts of
# functions/timestamps.py plus the two Zulu spellings.
LAYOUTS = (
    ("space_micro_offset", 1),
    ("space_offset", 1_000_000),
    ("t_milli_offset", 1_000),
    ("t_offset", 1_000_000),
    ("space_bare", 1_000_000),
    ("t_milli_zulu", 1_000),
    ("t_zulu", 1_000_000),
)


def format_ts(us: int, layout: str) -> str:
    d = _EPOCH + dt.timedelta(microseconds=us)
    base_space = d.strftime("%Y-%m-%d %H:%M:%S")
    base_t = d.strftime("%Y-%m-%dT%H:%M:%S")
    ms = f"{d.microsecond // 1000:03d}"
    return {
        "space_micro_offset": f"{base_space}.{d.microsecond:06d}+00:00",
        "space_offset": f"{base_space}+00:00",
        "t_milli_offset": f"{base_t}.{ms}+00:00",
        "t_offset": f"{base_t}+00:00",
        "space_bare": base_space,
        "t_milli_zulu": f"{base_t}.{ms}Z",
        "t_zulu": f"{base_t}Z",
    }[layout]


@dataclass
class Rec:
    """One record as the engine should see it after parsing. ``valid`` is
    False for junk payloads that parse to nothing."""

    valid: bool
    id: str | None = None
    username: str | None = None
    text: str | None = None
    hashtags: tuple = ()
    ts_us: int | None = None  # parsed created_at; None = unparseable


class _Zipf:
    """Ranks 0..n-1 drawn with weight 1 / (rank + 1) ** s."""

    def __init__(self, rng: random.Random, n: int, s: float):
        self._rng = rng
        self._ranks = range(n)
        self._cum = list(itertools.accumulate(1.0 / (r**s) for r in range(1, n + 1)))

    def draw(self) -> int:
        return bisect.bisect_left(self._cum, self._rng.random() * self._cum[-1])

    def sample(self, k: int) -> list[int]:
        return self._rng.choices(self._ranks, cum_weights=self._cum, k=k)


class TootGen:
    """Seeded record factory."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self._users = _Zipf(self.rng, 2000, 1.1)
        self._tags = _Zipf(self.rng, 300, 1.2)
        self._words = _Zipf(self.rng, 5000, 1.0)
        self._next_id = 0

    def new_id(self) -> str:
        self._next_id += 1
        return str(10**17 + self._next_id)

    def _tags_for(self) -> tuple[list, tuple]:
        raw, norm = [], []
        for _ in range(self.rng.choice((0, 1, 1, 2, 3))):
            t = f"tag{self._tags.draw()}"
            r = self.rng.random()
            if r < 0.1:
                raw.append(f" {t.upper()} ")
            elif r < 0.13:
                raw.append("  ")
                continue
            else:
                raw.append(t)
            norm.append(t)
        return raw, tuple(norm)

    def toot(self, ts_us: int, junk_ts: bool = False) -> tuple[dict | None, Rec]:
        """One toot: (JSON payload dict, or None for an unparseable
        payload, and its Rec). ``junk_ts`` adds unparseable created_at
        values; the stream checks leave it off, since they need every
        event time to be known."""
        rng = self.rng
        if rng.random() < 0.003:
            return None, Rec(False)
        ident = self.new_id()
        user = f"user{self._users.draw()}"
        raw_user = user + " " if rng.random() < 0.01 else user
        text = " ".join(f"w{w}" for w in self._words.sample(rng.randint(4, 30)))
        if rng.random() < 0.05:
            text += " café"
        raw_text = text
        if rng.random() < 0.05:
            raw_text = f"  {text} "
        elif rng.random() < 0.004:
            raw_text = "   "
        layout, prec = LAYOUTS[rng.randrange(len(LAYOUTS))]
        parsed = ts_us - ts_us % prec
        created = format_ts(ts_us, layout)
        if junk_ts and rng.random() < 0.005:
            created, parsed = rng.choice(("not-a-date", "2025-13-45 99:99:99", "")), None
        raw_tags, tags = self._tags_for()
        payload = {
            "id": ident,
            "created_at": created,
            "language": rng.choice(("en", "fr", "de", "es")),
            "text": raw_text,
            "hashtags": raw_tags,
            "user_id": user[4:],
            "username": raw_user,
            "display_name": user.title(),
            "favourites": rng.randrange(50),
            "reblogs": rng.randrange(20),
            "replies": rng.randrange(10),
            "url": f"https://masto.test/@{user}/{ident}",
        }
        if rng.random() < 0.002:
            payload["username"] = None
        rec = Rec(
            True,
            id=ident,
            username=payload["username"],
            text=raw_text,
            hashtags=tags,
            ts_us=parsed,
        )
        return payload, rec

    def redeliver(self, payload: dict, rec: Rec, max_delay_s: int) -> tuple[dict, Rec]:
        """Re-delivery of an earlier toot: an exact copy, or an edit with a
        created_at 1 to ``max_delay_s`` seconds later (>= 1 s, so it wins
        after truncation)."""
        if self.rng.random() < 0.5 or rec.ts_us is None:
            return dict(payload), rec
        ts = rec.ts_us + self.rng.randint(1, max_delay_s) * 1_000_000
        layout, prec = LAYOUTS[self.rng.randrange(len(LAYOUTS))]
        p = dict(payload, created_at=format_ts(ts, layout), text=payload["text"] + " (edit)")
        return p, Rec(True, rec.id, rec.username, p["text"], rec.hashtags, ts - ts % prec)


def encode(payload: dict | None, rng: random.Random) -> bytes:
    if payload is None:
        return rng.choice((b"{not json", b"garbage", b'{"id": '))
    return json.dumps(payload).encode()


class TopicWriter:
    """Writes recorded-topic segment files; offsets continue per partition
    across every segment this writer produces."""

    def __init__(self):
        self._next = [0] * N_PARTITIONS
        self._seq = 0

    def write_segment(self, path_dir: str, keys: list, values: list, ts_us: list) -> str:
        parts, offs = [], []
        for k in keys:
            p = zlib.crc32(k) % N_PARTITIONS if k is not None else self._seq % N_PARTITIONS
            parts.append(p)
            offs.append(self._next[p])
            self._next[p] += 1
        n = len(values)
        table = pa.Table.from_arrays(
            [
                pa.array(keys, pa.binary()),
                pa.array(values, pa.binary()),
                pa.array([TOPIC] * n, pa.string()),
                pa.array(parts, pa.int32()),
                pa.array(offs, pa.int64()),
                pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                pa.array([0] * n, pa.int32()),
            ],
            schema=KAFKA_ARROW_SCHEMA,
        )
        os.makedirs(path_dir, exist_ok=True)
        name = f"segment-{self._seq:06d}.parquet"
        self._seq += 1
        out = os.path.join(path_dir, name)
        pq.write_table(table, out)
        return out


def write_records(
    writer: TopicWriter,
    path_dir: str,
    gen: TootGen,
    payloads: list,
    publish_us: int,
) -> str:
    keys = [p["id"].encode() if p else None for p in payloads]
    values = [encode(p, gen.rng) for p in payloads]
    return writer.write_segment(path_dir, keys, values, [publish_us] * len(values))
