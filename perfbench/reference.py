"""Plain-Python references computed from the generator's own records, and
readers for what the engine wrote (pyarrow only, never Spark).

Each ``check_*`` returns a list of human-readable mismatches; empty means
the engine's output equals the reference.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

US_PER_HOUR = 3_600 * 1_000_000
US_PER_MIN = 60 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _day(ts_us: int | None) -> str | None:
    if ts_us is None:
        return None
    return (_EPOCH + dt.timedelta(microseconds=ts_us)).date().isoformat()


def read_rows(table_dir: str) -> list[dict]:
    """Rows of a parquet table directory, hive partition values included
    as strings (``__HIVE_DEFAULT_PARTITION__`` -> None), timestamps as
    epoch microseconds."""
    rows: list[dict] = []
    for root, _, files in os.walk(table_dir):
        parts = {}
        rel = os.path.relpath(root, table_dir)
        for seg in ([] if rel == "." else rel.split(os.sep)):
            k, _, v = seg.partition("=")
            parts[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                t = pq.read_table(os.path.join(root, f))
                for i, field in enumerate(t.schema):
                    if pa.types.is_timestamp(field.type):
                        col = t.column(i).cast(pa.timestamp("us")).cast(pa.int64())
                        t = t.set_column(i, field.name, col)
                for r in t.to_pylist():
                    r.update(parts)
                    rows.append(r)
    return rows


def _diff(name: str, want: Counter, got: Counter, limit: int = 3) -> list[str]:
    if want == got:
        return []
    missing = list((want - got).items())[:limit]
    extra = list((got - want).items())[:limit]
    return [f"{name}: {sum((want - got).values())} rows missing e.g. {missing}, "
            f"{sum((got - want).values())} unexpected e.g. {extra}"]


def _avg_diff(name: str, want: dict, got: dict, tol: float = 2e-6) -> list[str]:
    if want.keys() != got.keys():
        return [f"{name}: key sets differ ({len(want)} expected, {len(got)} got, "
                f"e.g. {list(want.keys() ^ got.keys())[:3]})"]
    bad = [(k, want[k], got[k]) for k in want if abs(want[k] - got[k]) > tol]
    return [f"{name}: {len(bad)} averages differ e.g. {bad[:3]}"] if bad else []


# ---------------------------------------------------------------- backfill


def backfill_expected(recs) -> dict[str, Counter | dict]:
    """The seven derived tables of ``analytics_suite`` over
    ``clean_toots`` of the records, as Counters of row tuples (averages as
    a dict)."""
    latest: dict[str, tuple] = {}
    for r in recs:
        if not r.valid or r.id is None or r.username is None or r.text is None:
            continue
        text, user = r.text.strip(" "), r.username.strip(" ")
        if not text:
            continue
        # created_at desc nulls last, then username asc
        rank = (r.ts_us is None, -(r.ts_us or 0), user)
        if r.id not in latest or rank < latest[r.id][0]:
            latest[r.id] = (rank, user, text, r.ts_us, r.hashtags)
    hourly, daily, users, tags = Counter(), Counter(), Counter(), Counter()
    lengths: dict[str, list] = defaultdict(list)
    for _, user, text, ts, hashtags in latest.values():
        hourly[None if ts is None else ts - ts % US_PER_HOUR] += 1
        daily[_day(ts)] += 1
        users[user] += 1
        lengths[user].append(len(text))
        for t in hashtags:
            tags[(_day(ts), t)] += 1
    top: dict = {}
    for (day, tag), c in tags.items():
        if day not in top or (-c, tag) < (-top[day][1], top[day][0]):
            top[day] = (tag, c)
    return {
        "hourly_toot_counts": Counter({(h, c): 1 for h, c in hourly.items()}),
        "daily_toot_counts": Counter({(d, c): 1 for d, c in daily.items()}),
        "user_activity_counts": Counter({(u, c): 1 for u, c in users.items()}),
        "active_users": Counter({(u, c): 1 for u, c in users.items() if c >= 5}),
        "hashtags_per_day_counts": Counter({(d, t, c): 1 for (d, t), c in tags.items()}),
        "top_hashtag_per_day": Counter({(d, t, c): 1 for d, (t, c) in top.items()}),
        "avg_toot_length_by_user_batch": {u: sum(v) / len(v) for u, v in lengths.items()},
    }


def check_backfill(expected: dict, out_dir: str) -> list[str]:
    def rows(name):
        return read_rows(os.path.join(out_dir, name))

    got = {
        "hourly_toot_counts": Counter((r["hour"], r["toots"]) for r in rows("hourly_toot_counts")),
        "daily_toot_counts": Counter((r["day"], r["toots"]) for r in rows("daily_toot_counts")),
        "user_activity_counts": Counter((r["username"], r["toot_count"]) for r in rows("user_activity_counts")),
        "active_users": Counter((r["username"], r["toot_count"]) for r in rows("active_users")),
        "hashtags_per_day_counts": Counter(
            (r["day"], r["hashtag"], r["cnt"]) for r in rows("hashtags_per_day_counts")
        ),
        "top_hashtag_per_day": Counter((r["day"], r["hashtag"], r["cnt"]) for r in rows("top_hashtag_per_day")),
    }
    errs = []
    for name, want in expected.items():
        if name == "avg_toot_length_by_user_batch":
            avg = {r["username"]: r["avg_len"] for r in rows(name)}
            errs += _avg_diff(name, want, avg)
        else:
            errs += _diff(name, want, got[name])
    return errs


# ------------------------------------------------------------------ stream


def stream_expected(drain_recs, paced_recs, t0_us: int) -> dict:
    """posts rows, final per-minute-window counts and per-user average
    length of the three-sink stream job. Late events are kept in the drain
    batch (no watermark yet) and dropped in the paced phase."""
    # the generator puts late events >= 20 minutes before t0 and every
    # other event after t0 - 5 minutes; the cutoff sits between them
    late_cutoff = t0_us - 8 * US_PER_MIN
    posts, windows = Counter(), Counter()
    lengths: dict[str, list] = defaultdict(list)
    for phase, recs in (("drain", drain_recs), ("paced", paced_recs)):
        for r in recs:
            if not r.valid or r.username is None or r.text is None:
                continue
            text = r.text.strip(" ")
            if not text:
                continue
            posts[(r.username, text, r.ts_us)] += 1
            lengths[r.username].append(len(text))
            if phase == "drain" or r.ts_us >= late_cutoff:
                windows[r.ts_us - r.ts_us % US_PER_MIN] += 1
    return {
        "posts": posts,
        "minute_counts": Counter({(w, w + US_PER_MIN, c): 1 for w, c in windows.items()}),
        "avg_length": {u: sum(v) / len(v) for u, v in lengths.items()},
    }


def _final_updates(rows: list[dict], key) -> dict:
    """Update-mode output: the row of the latest batch per key."""
    last: dict = {}
    for r in rows:
        k, b = key(r), int(r["batch_id"])
        if k not in last or b > last[k][0]:
            last[k] = (b, r)
    return {k: r for k, (_, r) in last.items()}


def check_stream(expected: dict, run_dir: str) -> list[str]:
    posts = Counter(
        (r["username"], r["content"], r["ts"]) for r in read_rows(os.path.join(run_dir, "posts"))
    )
    mc = _final_updates(read_rows(os.path.join(run_dir, "minute_counts")), lambda r: r["window_start"])
    windows = Counter((r["window_start"], r["window_end"], r["cnt"]) for r in mc.values())
    al = _final_updates(read_rows(os.path.join(run_dir, "avg_length")), lambda r: r["username"])
    return (
        _diff("posts", expected["posts"], posts)
        + _diff("minute_counts", expected["minute_counts"], windows)
        + _avg_diff("avg_length", expected["avg_length"], {u: r["avg_length"] for u, r in al.items()})
    )
