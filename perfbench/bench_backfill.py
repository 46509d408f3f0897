"""``toot_backfill``: the reference's batch chain (batch_load_raw_fix ->
batch_clean_historical -> batch_analytics) as one closed loop of passes:

    read_fake_kafka_batch -> parse_toot_values -> clean_toots -> materialize_suite

Each pass replays the whole recorded topic and rewrites all seven derived
tables. No streaming state, no MinHash.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from common import Tracer, cpu_s, force, halves_differ
from gen import T0_US, TootGen, TopicWriter, write_records
from projet_5spar_sparkstreaming_spark.functions.timestamps import normalize_timestamp
from projet_5spar_sparkstreaming_spark.operators.dedup import latest_per_key
from projet_5spar_sparkstreaming_spark.plans.materialize import materialize_suite
from projet_5spar_sparkstreaming_spark.plans.toots import analytics_suite, clean_toots
from projet_5spar_sparkstreaming_spark.sources.files import parse_toot_values
from projet_5spar_sparkstreaming_spark.sources.kafka_fake import read_fake_kafka_batch
from reference import backfill_expected, check_backfill

N_RECORDS = 24_000
N_SEGMENTS = 8
REDELIVERY = 0.10
SPAN_US = 3 * 86_400 * 1_000_000  # three days of event time
WARMUP_PASSES = 2  # the cold pass, then one on the C1 plateau (README, "Workloads")
MIN_TIMED_PASSES = 3
TRACED_PAIRS = 2


def generate(seed: int, dirs) -> dict:
    gen = TootGen(seed)
    writer = TopicWriter()
    topic = dirs.path("topic")
    recs, sent = [], []
    for _ in range(N_RECORDS):
        if sent and gen.rng.random() < REDELIVERY:
            payload, rec = gen.redeliver(*sent[gen.rng.randrange(len(sent))], max_delay_s=600)
        else:
            payload, rec = gen.toot(T0_US + gen.rng.randrange(SPAN_US), junk_ts=True)
            if payload is not None:
                sent.append((payload, rec))
        recs.append((payload, rec))
    per = N_RECORDS // N_SEGMENTS
    for s in range(N_SEGMENTS):
        chunk = [p for p, _ in recs[s * per:(s + 1) * per]]
        write_records(writer, topic, gen, chunk, T0_US + SPAN_US)
    return {"topic": topic, "records": [r for _, r in recs]}


def _normalized(parsed):
    return parsed.withColumn("created_at", normalize_timestamp("created_at"))


def _latest(df):
    """The dedup step of ``clean_toots``, with its arguments."""
    return latest_per_key(df, ["id"], "created_at", tie_break=("username",))


class Backfill:
    def __init__(self, spark, inputs: dict, dirs, tracer: Tracer):
        self.spark = spark
        self.topic = inputs["topic"]
        self.records = inputs["records"]
        self.out = dirs.path("warehouse", "toots")
        self.tracer = tracer
        self.series: dict[str, list[float]] = {"warmup": [], "timed": [], "traced": [], "cpu_s": []}

    def _read(self):
        return parse_toot_values(read_fake_kafka_batch(self.spark, self.topic))

    def _pass(self) -> float:
        """One untraced pass; returns its wall time and records its CPU time."""
        c = cpu_s()
        t = time.perf_counter()
        materialize_suite(clean_toots(self._read()), self.out)
        wall = time.perf_counter() - t
        self.series["cpu_s"].append(cpu_s() - c)
        return wall

    def warm_up(self) -> None:
        for _ in range(WARMUP_PASSES):
            self.series["warmup"].append(self._pass())

    def _traced_pass(self) -> float:
        """Every layer boundary forced with a noop write; cumulative spans.
        Only the engine's public functions are timed: ``clean_toots``, then
        the timestamp cascade over the cached parsed frame and
        ``latest_per_key`` over the cached normalized one, each less the
        scan of its cached input."""
        tr = self.tracer
        t = time.perf_counter()
        with tr.span("pass"):
            parsed = self._read()
            with tr.span("read_parse"):
                force(parsed)
            with tr.span("clean_cum"):
                force(clean_toots(parsed))
            parsed = parsed.cache()
            force(parsed)
            with tr.span("normalize_scan"):
                force(parsed)
            with tr.span("normalize_cum"):
                force(_normalized(parsed))
            normalized = _normalized(parsed).cache()
            force(normalized)
            with tr.span("dedup_scan"):
                force(normalized)
            with tr.span("dedup_cum"):
                force(_latest(normalized))
            normalized.unpersist()
            parsed.unpersist()
            cached = clean_toots(parsed).cache()
            cached.count()
            with tr.span("suite"):
                for df in analytics_suite(cached).values():
                    force(df)
            cached.unpersist()
            with tr.span("materialize"):
                materialize_suite(clean_toots(self._read()), self.out)
        return time.perf_counter() - t

    def measure(self, seconds: float) -> None:
        """Untraced passes for ``seconds``, at least ``MIN_TIMED_PASSES``. A
        traced run follows each with a traced pass and stops after
        ``TRACED_PAIRS`` pairs, since a traced pass costs about two
        untraced ones."""
        t_end = time.perf_counter() + seconds
        traced = self.tracer.enabled
        min_passes = TRACED_PAIRS if traced else MIN_TIMED_PASSES
        while True:
            self.series["timed"].append(self._pass())
            if traced:
                self.series["traced"].append(self._traced_pass())
            if len(self.series["timed"]) >= min_passes and time.perf_counter() >= t_end:
                break

    def end_to_end(self) -> dict[str, float]:
        times = self.series["timed"]
        return {
            "throughput_per_s": len(self.records) * len(times) / sum(times),
            "latency_p50_s": statistics.median(times),
            "latency_p90_s": statistics.quantiles(times, n=10, method="inclusive")[-1],
        }

    def attempted(self) -> int:
        return len(self.series["timed"]) + len(self.series["traced"])

    def steadiness(self, bound: float) -> dict:
        flagged, gap = halves_differ(self.series["timed"], bound)
        return {"series": "pass_s", "halves_gap": gap, "flagged": flagged}

    def check(self) -> list[str]:
        return check_backfill(backfill_expected(self.records), self.out)

    def per_layer(self) -> dict[str, float]:
        """Medians over traced passes, self time as differences of the
        cumulative spans, and ratios from counts taken after timing."""
        tr = self.tracer
        rp, cc = tr.median("read_parse"), tr.median("clean_cum")
        parsed = self._read()
        rows_in = parsed.count()
        ok = parsed.filter(F.col("id").isNotNull()).count()
        keyed = _normalized(parsed).filter(F.col("id").isNotNull())
        ts_null = keyed.filter(F.col("created_at").isNull()).count()
        kept = _latest(keyed).count()
        files, nbytes = 0, 0
        for root, _, fs in os.walk(self.out):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, f))
        return {
            "sources.read_parse_s": rp,
            "sources.rows_in": float(rows_in),
            "sources.parse_ok_ratio": ok / max(1, rows_in),
            "functions.timestamps.normalize_s": max(0.0, tr.median("normalize_cum") - tr.median("normalize_scan")),
            "functions.timestamps.null_ratio": ts_null / max(1, ok),
            "operators.dedup.latest_per_key_s": max(0.0, tr.median("dedup_cum") - tr.median("dedup_scan")),
            "operators.dedup.dup_drop_ratio": 1.0 - kept / max(1, ok),
            "plans.toots.clean_s": max(0.0, cc - rp),
            "plans.toots.suite_s": tr.median("suite"),
            "plans.materialize.write_s": max(0.0, tr.median("materialize") - cc - tr.median("suite")),
            "plans.materialize.files_written": float(files),
            "plans.materialize.bytes_written": float(nbytes),
            "process.cpu_us_per_toot": 1e6 * statistics.median(
                self.series["cpu_s"][WARMUP_PASSES:]
            ) / len(self.records),
            "trace.latency_p50_s": statistics.median(self.series["traced"]),
        }
