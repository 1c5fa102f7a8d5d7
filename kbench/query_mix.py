"""Workload ``query_mix``: analytics reads over seeded tables.

Seeded tables with the FIXTURES.md schemas are written as parquet; each
query of :data:`MIX` (registry queries across the engine's query
families) runs once untimed — its result collected and compared with its
DuckDB oracle — and then back to back in timed passes until ``seconds``
have passed (at least one pass). As ``bench.py`` does, caches are
released before every execution (``release_shared_pins``,
``release_checkpoints``, ``clearCache``) and a timed execution
materializes with the ``noop`` sink.

The mix time is the sum over the mix of each query's median timed
execution. The streaming layers do no work here.
"""

from __future__ import annotations

import os
import time

from kbench import datagen
from kbench.harness import MIB, Result, Session, Tracer, median

# the sf0.01 fixture sizes: lineitem 60k rows, 500 documents and embeddings
SF = 0.01
N_DOCS = 500
N_VECS = 500

MIX = (
    "q1_pricing_summary",
    "w5_nation_revenue_rank",
    "a3_cube_lineitem_flags",
    "e4_sessionization",
    "d2_content_hash_dedup",
    "sim3_label_centroids",
    "t11_bigram_lm_score",
    "p2_sequence_packing",
    "mm4_nibble_histogram",
)
# every table the mix reads, loaded (schema and footers read) during set-up
TABLES_READ = ("lineitem", "supplier", "nation", "events", "documents", "embeddings")
MIN_PASSES = 1


class _Collected:
    """A result collected during the warm-up, in the shape
    ``tests.oracle_utils.compare`` reads (``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _oracles(sf_dir: str, registry) -> dict:
    """Each query's DuckDB oracle result over the generated tables."""
    import duckdb

    from kinesis_spark.io import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {name: con.execute(registry[name].oracle).fetchdf() for name in MIX}
    finally:
        con.close()


def _release(spark) -> None:
    from kinesis_spark.ordering import release_checkpoints
    from kinesis_spark.pins import release_shared_pins

    release_shared_pins()
    release_checkpoints()
    spark.catalog.clearCache()


def _module(registry, name: str) -> str:
    return registry[name].spark_fn.__module__.rsplit(".", 1)[-1]


def run(work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
    from kinesis_spark.io import load_table
    from kinesis_spark.queries import get_registry
    from tests.oracle_utils import compare

    res = Result()
    sf_dir = os.path.join(work, "tables")
    datagen.write_tables(sf_dir, seed, SF, N_DOCS, N_VECS)
    registry = get_registry()
    want = _oracles(sf_dir, registry)

    t_setup = time.monotonic()
    session = Session(tracer)
    try:
        spark = session.spark
        t0 = time.monotonic()
        with tracer.span("io.load_table"):
            for t in TABLES_READ:
                load_table(spark, sf_dir, t)
        load_s = time.monotonic() - t0
        input_mib = {}
        collected = {}
        for name in MIX:
            _release(spark)
            with tracer.span("query.warmup", query=name):
                df = registry[name].spark_fn(spark, sf_dir)
                input_mib[name] = sum(
                    os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()
                ) / MIB
                collected[name] = df.toPandas()
        setup_s = time.monotonic() - t_setup

        plan: dict[str, list[float]] = {n: [] for n in MIX}
        execs: dict[str, list[float]] = {n: [] for n in MIX}
        t_timed = time.monotonic()
        while len(plan[MIX[-1]]) < MIN_PASSES or time.monotonic() - t_timed < seconds:
            for name in MIX:
                _release(spark)
                with tracer.span("query.run", query=name):
                    t0 = time.monotonic()
                    try:
                        with tracer.span("query.spark_fn"):
                            df = registry[name].spark_fn(spark, sf_dir)
                        t1 = time.monotonic()
                        with tracer.span("query.noop_write"):
                            df.write.format("noop").mode("overwrite").save()
                        ok = True
                    except Exception as exc:  # counted, and the mix goes on
                        res.notes.append(f"{name}: {exc!r}"[:500])
                        t1, ok = t0, False
                    t2 = time.monotonic()
                res.check(ok, f"{name} timed execution raised")
                plan[name].append(t1 - t0)
                execs[name].append(t2 - t1)
    finally:
        session.stop()

    for name in MIX:
        try:
            compare(_Collected(collected[name]), want[name], name)
            ok = True
        except AssertionError as exc:
            res.notes.append(str(exc)[:500])
            ok = False
        res.check(ok, f"{name} warm-up result differs from its oracle")

    per_query = {n: median(p + e for p, e in zip(plan[n], execs[n])) for n in MIX}
    mix_s = sum(per_query.values())
    res.end_to_end = {
        "setup_s": setup_s,
        "drain_s": mix_s,
        "mib_per_s": sum(input_mib.values()) / mix_s,
    }
    res.notes.append(
        f"timed passes: {len(plan[MIX[0]])}; per-query median times: "
        + ", ".join(f"{n} {t:.3f}" for n, t in per_query.items())
    )
    if tracer.enabled:
        res.per_layer["io.load_s"] = load_s
        # each query's median planning and running time, summed
        res.per_layer["queries.plan_s"] = sum(median(plan[n]) for n in MIX)
        res.per_layer["queries.exec_s"] = sum(median(execs[n]) for n in MIX)
        for n, t in per_query.items():
            res.per_layer[f"query.{n}_s"] = t
            key = f"queries.{_module(registry, n)}_s"
            res.per_layer[key] = res.per_layer.get(key, 0.0) + t
    res.per_layer["session.start_s"] = session.start_s
    return res
