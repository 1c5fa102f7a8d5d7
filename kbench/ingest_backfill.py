"""Workload ``ingest_backfill``: the producer path, drained closed-loop.

A fixed set of seeded line-framed text files is drained again and again
through ``streaming.ingest.build_text_source`` and
``start_ingest_query(available_now=True)`` into a
``streaming.spool.SpoolStreamClient``, each drain with a fresh spool and
checkpoint. Several files per trigger make every drain pay per-trigger
overhead several times; lines over 1 MiB exercise chunking and the
5 MiB-per-put cut, the ~1 KiB lines the 500-records-per-put cut.

The first two drains (the cold one and one still warming up) belong to
set-up. Timed drains follow until ``seconds`` have passed (at least
two). Every drain's ``IngestMetrics`` must acknowledge exactly the
input's records and bytes; the last drain's spool is read back with
``read_spool`` and must hold exactly the input's chunks. Each timed
drain deletes the spool of the drain before it, so a run keeps at most
three on disk.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import time
import uuid
import zlib

from kbench import datagen
from kbench.harness import MIB, Result, Session, Tracer, cores, median

# ~25 MiB in 8 files, 4 files (one per core) per trigger: 2 triggers
N_FILES = 8
LINES_PER_FILE = 2_000
BIG_LINES = (1_500_000, 2_700_000, 5_800_000)  # > 1 MiB: 2, 3 and 6 records
FILES_PER_TRIGGER = 4
WARMUP_DRAINS = 2  # the cold drain and one still warming; part of set-up
MIN_DRAINS = 2
STREAM = "backfill"
PARTITION_KEY = "pk"


class TimedSpoolClient:
    """``SpoolStreamClient`` that also logs each ``put_records`` call's
    start, end, record count and payload bytes to a file under
    ``stats_dir``. Picklable, so it can be the ingest query's
    ``client_factory``; it runs inside executor tasks."""

    def __init__(self, spool_dir: str, stats_dir: str):
        from kinesis_spark.streaming.spool import SpoolStreamClient

        self.inner = SpoolStreamClient(spool_dir)
        self.stats_path = os.path.join(stats_dir, f"{uuid.uuid4().hex}.tsv")
        os.makedirs(stats_dir, exist_ok=True)

    def put_records(self, stream_name, records):
        t0 = time.monotonic()
        out = self.inner.put_records(stream_name, records)
        t1 = time.monotonic()
        nbytes = sum(len(r.data) for r in records)
        with open(self.stats_path, "a") as f:
            f.write(f"{t0}\t{t1}\t{len(records)}\t{nbytes}\n")
        return out


def _read_put_stats(stats_dir: str) -> list[tuple[float, float, int, int]]:
    rows = []
    for path in glob.glob(os.path.join(stats_dir, "*.tsv")):
        with open(path) as f:
            for line in f:
                t0, t1, n, b = line.split("\t")
                rows.append((float(t0), float(t1), int(n), int(b)))
    return rows


def _expected_spool(paths: list[str], chunk_size: int) -> tuple[int, int, int, int]:
    """(records, payload bytes, sum of crc32, sum of md5 prefixes) of the
    chunks the input must become: each line cut into ``chunk_size``-byte
    records, the last one the remainder."""
    n = nbytes = crc = md5 = 0
    for path in paths:
        with open(path, "rb") as f:
            lines = f.read().split(b"\n")[:-1]
        for line in lines:
            for i in range(0, len(line), chunk_size):
                chunk = line[i : i + chunk_size]
                n += 1
                nbytes += len(chunk)
                crc += zlib.crc32(chunk)
                md5 += int(hashlib.md5(chunk).hexdigest()[:8], 16)
    return n, nbytes, crc, md5


def _spool_dir(work: str, i: int) -> str:
    return os.path.join(work, "spool", f"d{i}")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def _spool_digest(spark, spool: str) -> tuple[int, int, int, int]:
    """Read one drain's spool back; the same digest as
    :func:`_expected_spool`."""
    from pyspark.sql import functions as F

    from kinesis_spark.streaming.spool import read_spool

    r = (
        read_spool(spark, spool)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("data")).alias("b"),
            F.sum(F.crc32("data")).alias("crc"),
            F.sum(F.conv(F.substring(F.md5("data"), 1, 8), 16, 10).cast("long")).alias("md5"),
        )
        .collect()[0]
    )
    return (r.n, r.b, r.crc, r.md5)


def _drain(spark, tracer: Tracer, src_dir: str, work: str, i: int, stats_dir: str | None):
    """One closed-loop drain into a fresh spool and checkpoint. Returns
    (wall seconds, IngestMetrics, progress list)."""
    from kinesis_spark.streaming.ingest import build_text_source, start_ingest_query
    from kinesis_spark.streaming.spool import SpoolStreamClient

    spool = _spool_dir(work, i)
    ckpt = os.path.join(work, "ckpt", f"d{i}")
    if stats_dir is None:
        factory = functools.partial(SpoolStreamClient, spool)
    else:
        factory = functools.partial(TimedSpoolClient, spool, stats_dir)
    with tracer.span("ingest.drain", drain=i):
        t0 = time.monotonic()
        with tracer.span("streaming.ingest.build_text_source"):
            source = build_text_source(spark, src_dir, max_files_per_trigger=FILES_PER_TRIGGER)
        with tracer.span("streaming.ingest.start_ingest_query"):
            query, metrics = start_ingest_query(
                source,
                factory,
                STREAM,
                PARTITION_KEY,
                available_now=True,
                checkpoint_dir=ckpt,
                query_name=f"backfill_{i}",
            )
        with tracer.span("streaming.ingest.awaitTermination"):
            query.awaitTermination()
        dt = time.monotonic() - t0
    if query.exception() is not None:
        raise RuntimeError(f"drain {i} failed: {query.exception()}")
    return dt, metrics, list(query.recentProgress)


def _p50_duration(progress: list, *keys: str) -> float:
    return median(
        sum(p.durationMs.get(k, 0) for k in keys) / 1000.0 for p in progress
    )


def _one_cpu_mib_per_s(session: Session, tracer: Tracer, src_dir: str, work: str) -> float:
    """The stream-processing single-thread baseline: the same drain on a
    ``local[1]`` session (the JVM stays warm); the second of two drains
    is reported."""
    from kinesis_spark.session import get_spark

    session.spark.stop()
    session.spark = get_spark("kbench-1cpu", master="local[1]")
    session.spark.sparkContext.setLogLevel("ERROR")
    rates = []
    for i in (900, 901):
        dt, m, _ = _drain(session.spark, tracer, src_dir, work, i, None)
        rates.append(m.bytes_put / MIB / dt)
        shutil.rmtree(_spool_dir(work, i), ignore_errors=True)
    return rates[-1]


def run(work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
    res = Result()
    src_dir = os.path.join(work, "input")
    paths = datagen.write_text_files(src_dir, seed, N_FILES, LINES_PER_FILE, BIG_LINES)
    chunk_size = 1024 * 1024 - len(PARTITION_KEY.encode())
    expected = _expected_spool(paths, chunk_size)
    stats_dir = os.path.join(work, "put-stats") if tracer.enabled else None

    def check_acks(d: int, m) -> None:
        res.check(
            (m.records_put, m.bytes_put, m.records_retried, m.rows_dropped)
            == (expected[0], expected[1], 0, 0),
            f"drain {d} acknowledged {m.records_put} records ({m.bytes_put} B), "
            f"{m.records_retried} retried, {m.rows_dropped} dropped; "
            f"the input is {expected[0]} records ({expected[1]} B)",
        )

    t_setup = time.monotonic()
    session = Session(tracer)
    try:
        spark = session.spark
        cold = [_drain(spark, tracer, src_dir, work, i, None)[1] for i in range(WARMUP_DRAINS)]
        setup_s = time.monotonic() - t_setup

        drains = []  # (seconds, metrics, progress)
        spool_bytes = 0
        t_timed = time.monotonic()
        i = WARMUP_DRAINS
        while len(drains) < MIN_DRAINS or time.monotonic() - t_timed < seconds:
            drains.append(_drain(spark, tracer, src_dir, work, i, stats_dir))
            shutil.rmtree(_spool_dir(work, i - 1))
            spool_bytes += _dir_bytes(_spool_dir(work, i))
            i += 1

        with tracer.span("check.read_spool"):
            got = _spool_digest(spark, _spool_dir(work, i - 1))
        res.check(got == expected, f"drain {i - 1} spool {got} != input {expected}")
        for d, m in enumerate([*cold, *(m for _, m, _ in drains)]):
            check_acks(d, m)

        times = [dt for dt, _, _ in drains]
        res.end_to_end = {
            "setup_s": setup_s,
            "drain_s": median(times),
            "mib_per_s": median(m.bytes_put / MIB / dt for dt, m, _ in drains),
        }
        res.notes.append(
            f"{len(drains)} timed drains of {expected[1] / MIB:.1f} MiB "
            f"({expected[0]} records): " + ", ".join(f"{t:.3f}" for t in times)
        )

        if tracer.enabled:
            progress = [p for _, _, ps in drains for p in ps]
            puts = _read_put_stats(stats_dir)
            for t0, t1, n, b in puts:
                tracer.add("streaming.spool.put_records", t0, t1, "ingest.drain", records=n, bytes=b)
            payload = sum(m.bytes_put for _, m, _ in drains)
            busy = sum(t1 - t0 for t0, t1, _, _ in puts)
            k = len(drains)
            res.per_layer.update({
                "streaming.ingest.batches": sum(m.batches for _, m, _ in drains) / k,
                "streaming.ingest.trigger_s_p50": _p50_duration(progress, "triggerExecution"),
                "streaming.ingest.add_batch_s_p50": _p50_duration(progress, "addBatch"),
                "streaming.ingest.offsets_s_p50": _p50_duration(progress, "latestOffset", "walCommit"),
                "streaming.ingest.commit_s_p50": _p50_duration(progress, "commitOffsets"),
                "streaming.ingest.records_put": sum(m.records_put for _, m, _ in drains) / k,
                "streaming.ingest.put_calls": sum(m.put_calls for _, m, _ in drains) / k,
                "streaming.ingest.records_retried": sum(m.records_retried for _, m, _ in drains) / k,
                "ingest.chunker.records_per_row": sum(m.records_put for _, m, _ in drains)
                / max(1, sum(p.numInputRows for p in progress)),
                "streaming.spool.put_calls": len(puts) / k,
                "streaming.spool.put_busy_s": busy / k,
                "streaming.spool.put_s_p50": median(t1 - t0 for t0, t1, _, _ in puts),
                "streaming.spool.bytes_per_payload_byte": spool_bytes / max(1, payload),
                "streaming.ingest.put_share": busy / (sum(times) * cores()),
            })
            res.per_layer["streaming.ingest.mib_per_s_1cpu"] = _one_cpu_mib_per_s(
                session, tracer, src_dir, work
            )
    finally:
        session.stop()
    res.per_layer["session.start_s"] = session.start_s
    return res
