"""``toot_stream``: the reference's main job (spark_stream.py) over a
recorded topic:

    read_fake_kafka_stream -> parse_toot_values -> clean_toot_stream ->
      posts_projection      -> idempotent_parquet_sink
      minute_counts         -> foreachBatch, update mode (watermarked state)
      avg_length_by_user    -> foreachBatch, update mode (unbounded state)

Three phases, each with its own queries and checkpoints:

- warm-up (charged to set-up): two drains of a backlog, then the paced
  feed below;
- drain: a fixed backlog already in the topic when the queries start
  (restart after an outage), done ``DRAINS`` times with fresh queries;
  gives ``throughput_per_s``;
- paced: an open loop that renames pre-written segments into the topic
  at their due times, at a fixed rate; gives the latency metrics, each
  segment timed from its due time to its commit in all three sinks.

Event time advances 10 s per segment. Out-of-order events lag their
segment by up to 5 minutes and edits lead it by at most 5 s, so no
watermark (10 minutes) can reach them. Late events sit more than 10
minutes of event time behind everything drained before them, so the
watermark drops every late event of the paced phase and none of the drain
batch, however segments fall into micro-batches.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from common import Tracer, cpu_s, halves_differ
from gen import T0_US, TootGen, TopicWriter, write_records
from projet_5spar_sparkstreaming_spark.sources.files import parse_toot_values
from projet_5spar_sparkstreaming_spark.sources.kafka_fake import read_fake_kafka_stream
from projet_5spar_sparkstreaming_spark.streaming.jobs import (
    avg_length_by_user,
    clean_toot_stream,
    minute_counts,
    posts_projection,
)
from projet_5spar_sparkstreaming_spark.streaming.sinks import idempotent_parquet_sink
from reference import check_stream, stream_expected

SEG_TOOTS = 250
SEG_SPAN_US = 10 * 1_000_000  # event time covered by one segment
# Paced phase: 1000 toots/s offered, a third to a half of what the three
# queries sustain on a 4-core host (README, "Workloads").
RATE_SEGS_PER_S = 4.0
DRAIN_SEGS = 32
DRAINS = 3
WARM_BACKLOG_SEGS = DRAIN_SEGS  # the big-batch path warms on the same backlog size
WARM_DRAINS = 2  # with one, timed-drain CPU time still fell 5-15% over the three
WARM_PACED_SEGS = 8
REDELIVERY = 0.05
OUT_OF_ORDER = 0.10
LATE = 0.02
QUERIES = ("posts", "minute_counts", "avg_length")


def _segment(gen: TootGen, k: int, recent: list) -> tuple[list, list]:
    base = T0_US + k * SEG_SPAN_US
    payloads, recs = [], []
    for _ in range(SEG_TOOTS):
        r = gen.rng.random()
        if recent and r < REDELIVERY:
            p, rec = gen.redeliver(*recent[gen.rng.randrange(len(recent))], max_delay_s=5)
        else:
            if r < REDELIVERY + LATE:
                ts = T0_US - 20 * 60_000_000 - gen.rng.randrange(30 * 60_000_000)
            elif r < REDELIVERY + LATE + OUT_OF_ORDER:
                ts = base - gen.rng.randrange(5 * 60_000_000)
            else:
                ts = base + gen.rng.randrange(SEG_SPAN_US)
            p, rec = gen.toot(ts)
            if p is not None:
                recent.append((p, rec))
                del recent[:-50]
        payloads.append(p)
        recs.append(rec)
    return payloads, recs


def generate(seed: int, dirs, seconds: float) -> dict:
    """Main topic: the drain backlog written in place, the paced segments
    staged beside it. The warm-up topic copies the first segments of each."""
    gen = TootGen(seed)
    writer = TopicWriter()
    topic, staged = dirs.path("topic"), dirs.path("staged")
    recent: list = []
    drain_recs, paced_recs, paced_files, drain_files = [], [], [], []
    n_paced = int(round(seconds * RATE_SEGS_PER_S))
    for k in range(DRAIN_SEGS + n_paced):
        payloads, recs = _segment(gen, k, recent)
        in_drain = k < DRAIN_SEGS
        f = write_records(writer, topic if in_drain else staged, gen, payloads, T0_US + k * SEG_SPAN_US)
        (drain_files if in_drain else paced_files).append(f)
        (drain_recs if in_drain else paced_recs).extend(recs)
    warm_topic, warm_staged = dirs.path("warm_topic"), dirs.path("warm_staged")
    os.makedirs(warm_topic)
    os.makedirs(warm_staged)
    for f in drain_files[:WARM_BACKLOG_SEGS]:
        shutil.copy2(f, warm_topic)
    warm_paced = []
    for i in range(WARM_PACED_SEGS):
        f = paced_files[i % n_paced]
        warm_paced.append(shutil.copy2(f, os.path.join(warm_staged, f"w{i:05d}-{os.path.basename(f)}")))
    return {
        "topic": topic,
        "paced": paced_files,
        "drain_recs": drain_recs,
        "paced_recs": paced_recs,
        "warm_topic": warm_topic,
        "warm_paced": warm_paced,
    }


def _committed(chk: str) -> tuple[dict[str, int], dict[int, float]]:
    """From a query checkpoint: segment file name -> batch id (file source
    log) and batch id -> commit time (mtime of the commit log entry)."""
    files = {}
    src = os.path.join(chk, "sources", "0")
    for f in os.listdir(src):
        if f.startswith("."):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    files[os.path.basename(e["path"])] = e["batchId"]
    com = os.path.join(chk, "commits")
    commits = {int(f): os.stat(os.path.join(com, f)).st_mtime for f in os.listdir(com) if f.isdigit()}
    return files, commits


class Stream:
    def __init__(self, spark, inputs: dict, dirs, tracer: Tracer):
        self.spark = spark
        self.inp = inputs
        self.dirs = dirs
        self.series: dict[str, list] = {
            "warmup_batch_s": [],
            "drain_s": [],
            "drain_cpu_s": [],
            "paced_latency_s": [],
        }
        self.publisher_lag: list[float] = []
        if tracer.enabled:
            self._listener = _ProgressListener()
            spark.streams.addListener(self._listener)

    # ------------------------------------------------------------ queries

    def _start(self, topic: str, tag: str) -> dict:
        clean = clean_toot_stream(parse_toot_values(read_fake_kafka_stream(self.spark, topic)))
        d = self.dirs.path(tag)

        def update_sink(df, name):
            out = os.path.join(d, name)

            def write(batch, batch_id):
                batch.write.mode("overwrite").parquet(os.path.join(out, f"batch_id={batch_id}"))

            return (
                df.writeStream.outputMode("update")
                .foreachBatch(write)
                .option("checkpointLocation", os.path.join(d, "chk", name))
                .queryName(f"{tag}.{name}")
                .start()
            )

        posts = idempotent_parquet_sink(
            posts_projection(clean), os.path.join(d, "posts"), os.path.join(d, "chk", "posts")
        )
        return {
            "posts": posts,
            "minute_counts": update_sink(minute_counts(clean), "minute_counts"),
            "avg_length": update_sink(avg_length_by_user(clean), "avg_length"),
        }

    @staticmethod
    def _wait(queries: dict) -> None:
        for q in queries.values():
            q.processAllAvailable()

    @staticmethod
    def _stop(queries: dict) -> None:
        for q in queries.values():
            q.stop()

    def _publish(self, files: list, topic: str) -> list[float]:
        """Open loop: rename each staged segment into the topic at its due
        time; returns the due times. Lateness is recorded."""
        t0 = time.time() + 0.2
        dues = []
        for i, f in enumerate(files):
            due = t0 + i / RATE_SEGS_PER_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(f, os.path.join(topic, os.path.basename(f)))
            self.publisher_lag.append(max(0.0, time.time() - due))
            dues.append(due)
        return dues

    # -------------------------------------------------------------- phases

    def warm_up(self) -> None:
        """``WARM_DRAINS`` drains of the warm-up backlog, each with fresh
        queries and checkpoints; the last queries then take a short paced
        feed."""
        topic = self.inp["warm_topic"]
        for i in range(WARM_DRAINS):
            qs = self._start(topic, f"warm{i}")
            self._wait(qs)
            if i == WARM_DRAINS - 1:
                self._publish(self.inp["warm_paced"], topic)
                self._wait(qs)
            self.series["warmup_batch_s"] += [
                p["durationMs"]["triggerExecution"] / 1000.0 for p in qs["minute_counts"].recentProgress
            ]
            self._stop(qs)
        self.publisher_lag.clear()

    def measure(self, seconds: float) -> None:
        """``DRAINS`` restarts over the backlog, each with fresh queries and
        checkpoints; the last one's queries then take the paced phase, whose
        length (``seconds``) was fixed when the inputs were generated."""
        topic = self.inp["topic"]
        for i in range(DRAINS):
            tag = "run" if i == DRAINS - 1 else f"drain{i}"
            c = cpu_s()
            qs = self._start(topic, tag)
            self._wait(qs)
            self.series["drain_cpu_s"].append(cpu_s() - c)
            started = min(_epoch_s(q.recentProgress[0]["timestamp"]) for q in qs.values())
            if tag != "run":
                self._stop(qs)
            commits = self._segment_commits(tag)
            self.series["drain_s"].append(max(commits.values()) - started)
        self.query_ids = {name: str(q.id) for name, q in qs.items()}
        self._dues = self._publish(self.inp["paced"], topic)
        self._wait(qs)
        self.series["batch_s"] = {
            name: [p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress]
            for name, q in qs.items()
        }
        self._stop(qs)
        self.seg_commit = self._segment_commits("run")
        commits = [self.seg_commit[os.path.basename(f)] for f in self.inp["paced"]]
        self.series["paced_latency_s"] = [c - due for c, due in zip(commits, self._dues)]
        # segments published but not yet committed, at each publish
        self.series["backlog_segments"] = [
            sum(1 for c in commits[: i + 1] if c > due) for i, due in enumerate(self._dues)
        ]

    def _segment_commits(self, tag: str) -> dict[str, float]:
        """Segment file name -> time it was committed by all three queries."""
        seg_commit: dict[str, float] = {}
        for q in QUERIES:
            files, commits = _committed(self.dirs.path(tag, "chk", q))
            for f, b in files.items():
                seg_commit[f] = max(seg_commit.get(f, 0.0), commits[b])
        return seg_commit

    # ------------------------------------------------------------- results

    def end_to_end(self) -> dict[str, float]:
        lat = self.series["paced_latency_s"]
        return {
            "throughput_per_s": len(self.inp["drain_recs"]) / statistics.median(self.series["drain_s"]),
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        }

    def attempted(self) -> int:
        """Segments drained and published."""
        return DRAIN_SEGS * DRAINS + len(self.inp["paced"])

    def steadiness(self, bound: float) -> dict:
        flagged, gap = halves_differ(self.series["paced_latency_s"], bound)
        return {
            "series": "paced_latency_s",
            "halves_gap": gap,
            "flagged": flagged,
            "publisher_lag_max_s": max(self.publisher_lag, default=0.0),
            "backlog_segments_max": max(self.series["backlog_segments"]),
        }

    def check(self) -> list[str]:
        exp = stream_expected(self.inp["drain_recs"], self.inp["paced_recs"], T0_US)
        return check_stream(exp, self.dirs.path("run"))

    def per_layer(self) -> dict[str, float]:
        def med(vals):
            return statistics.median(vals) if vals else 0.0

        events = self._listener.events
        out: dict[str, float] = {}
        lo = []
        for q in QUERIES:
            ps = [p for p in events.get(self.query_ids[q], []) if p["numInputRows"] > 0]
            d = [p["durationMs"] for p in ps]
            out[f"streaming.{q}.trigger_s"] = med([x.get("triggerExecution", 0) / 1000 for x in d])
            out[f"streaming.{q}.add_batch_s"] = med([x.get("addBatch", 0) / 1000 for x in d])
            out[f"streaming.{q}.planning_s"] = med([x.get("queryPlanning", 0) / 1000 for x in d])
            out[f"streaming.{q}.commit_s"] = med(
                [(x.get("commitOffsets", 0) + x.get("walCommit", 0)) / 1000 for x in d]
            )
            out[f"streaming.{q}.rows_per_batch"] = med([p["numInputRows"] for p in ps])
            out[f"streaming.{q}.batches"] = float(len(ps))
            lo += [(x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1000 for x in d]
            if q == "minute_counts":
                st = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
                out["streaming.windows.state_rows"] = float(st[-1]["numRowsTotal"]) if st else 0.0
                out["streaming.windows.state_bytes"] = float(st[-1]["memoryUsedBytes"]) if st else 0.0
                out["streaming.windows.state_commit_s"] = med([s["commitTimeMs"] / 1000 for s in st])
                out["streaming.windows.late_rows_dropped"] = float(
                    sum(s.get("numRowsDroppedByWatermark", 0) for s in st)
                )
            if q == "avg_length":
                st = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
                out["streaming.avg_length.state_rows"] = float(st[-1]["numRowsTotal"]) if st else 0.0
        out["sources.latest_offset_s"] = med(lo)
        out["sources.rows_in"] = float(
            sum(p["numInputRows"] for p in events.get(self.query_ids["posts"], []))
        )
        out["streaming.backlog_segments"] = float(max(self.series["backlog_segments"]))
        out["streaming.publisher_lag_s"] = max(self.publisher_lag, default=0.0)
        out["process.cpu_us_per_toot"] = (
            1e6 * statistics.median(self.series["drain_cpu_s"]) / len(self.inp["drain_recs"])
        )
        out["trace.latency_p50_s"] = statistics.median(self.series["paced_latency_s"])
        return out


def _epoch_s(iso: str) -> float:
    """Query progress timestamp (ISO 8601, UTC) -> epoch seconds."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _ProgressListener(StreamingQueryListener):
    """Collects every query progress event as a plain dict, by query id."""

    def __init__(self):
        self.events: dict[str, list] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.events.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
