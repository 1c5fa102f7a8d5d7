"""Workload ``intake_drain``: the consume path, one availableNow drain
per wave.

Waves of the seeded document corpus (``datagen.documents``, the
generator of ``query_mix``'s ``documents`` table) are put as JSON into a
spool stream over 16 partition keys, and each wave is drained by one ``pipeline.run_intake``
call with a default ``IntakeConfig`` (leased ``kinesis_consumer``
source, gate, replay-shield, ``PrepIntakeSink`` admission, ``txstore``
commits). The schedule is fixed:

    fresh wave 0 (cold; creates the stores; part of set-up)
    then pairs until ``seconds`` have passed (at least one):
        replay wave: re-put every document of the previous fresh wave
        fresh wave:  new documents

Replay waves are the at-least-once case: the engine must write
(almost) nothing. Each wave is timed from the ``run_intake`` call until
its audit rows are collected.

Correctness, checked after the timed region: every wave's audit rows
equal the rollup of a pure-Python replay of the admission rules (the
same greedy rules ``tests/test_showcase_e2e.py::_oracle_admitted``
states), and the corpus holds exactly the documents that replay admits.
"""

from __future__ import annotations

import hashlib
import os
import time

from kbench import datagen
from kbench.harness import MIB, Result, Session, Tracer, median

STREAM = "docs"
N_KEYS = 16
# a wave is one block of the document corpus; block 0 is query_mix's
# ``documents`` table, so the intake writes where query_mix reads
WAVE_DOCS = 500
KEEP_LANGS = ("en", "de", "fr", "es")
MIN_TOKENS = 10
N_HASHES, BAND_ROWS = 8, 2


# --------------------------------------------------------------------------
# the admission oracle (pure Python)
# --------------------------------------------------------------------------


def band_keys(text: str) -> set[str]:
    """MinHash band keys of a document, as the engine defines them:
    8 MinHashes (min over the md5 hex of ``"<seed>#<shingle>"``) of the
    distinct word 3-shingles, banded 4 x 2 and joined with ``|``.
    Documents under 3 words have none. The generated texts are single-
    space separated, so ``split(" ")`` is the engine's tokenizer."""
    toks = text.split(" ")
    if len(toks) < 3:
        return set()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    mh = [
        min(hashlib.md5(f"{s}#{sh}".encode()).hexdigest() for sh in shingles)
        for s in range(N_HASHES)
    ]
    return {
        "|".join(mh[b * BAND_ROWS + r] for r in range(BAND_ROWS))
        for b in range(N_HASHES // BAND_ROWS)
    }


class AdmissionOracle:
    """Greedy replay of the intake chain, one wave = one micro-batch:
    language/length gate; the replay shield drops doc_ids offered in an
    earlier wave; batch-local exact dedup keeps the lowest doc_id per
    text; texts already admitted are dropped; then a document is
    dropped if it shares a band key with the index or with a lower-id
    fresh document of the same wave. Admitted texts and bands join the
    stores."""

    def __init__(self):
        self.admitted: dict[int, dict] = {}
        self.seen_ids: set[int] = set()
        self.hashes: set[str] = set()
        self.index: set[str] = set()

    def wave(self, docs: list[dict]) -> None:
        gated = {
            d["doc_id"]: d
            for d in docs
            if d["lang"] in KEEP_LANGS
            and len(d["text"].split(" ")) >= MIN_TOKENS
            and d["doc_id"] not in self.seen_ids
        }
        self.seen_ids |= gated.keys()
        firsts: dict[str, dict] = {}
        for did in sorted(gated):
            h = hashlib.sha256(gated[did]["text"].encode()).hexdigest()
            firsts.setdefault(h, gated[did])
        fresh = sorted(
            ((h, d) for h, d in firsts.items() if h not in self.hashes),
            key=lambda x: x[1]["doc_id"],
        )
        bands = {d["doc_id"]: band_keys(d["text"]) for _, d in fresh}
        lower: set[str] = set()
        admitted = []
        for h, d in fresh:
            b = bands[d["doc_id"]]
            if not (b & self.index or b & lower):
                admitted.append((h, d))
            lower |= b
        for h, d in admitted:
            self.admitted[d["doc_id"]] = d
            self.hashes.add(h)
            self.index |= bands[d["doc_id"]]

    def rollup(self) -> dict[tuple[str, str], tuple[int, int]]:
        out: dict[tuple[str, str], list[int]] = {}
        for d in self.admitted.values():
            acc = out.setdefault((d["lang"], d["source"]), [0, 0])
            acc[0] += 1
            acc[1] += len(d["text"].split(" "))
        return {k: (v[0], v[1]) for k, v in out.items()}


# --------------------------------------------------------------------------
# the engine side
# --------------------------------------------------------------------------


def _put_wave(spool: str, docs: list[dict]) -> int:
    """Put ``docs`` into the stream, 500 records per call. Returns the
    payload bytes put."""
    from kinesis_spark.ingest.writer import Record
    from kinesis_spark.streaming.spool import SpoolStreamClient

    client = SpoolStreamClient(spool)
    recs = [
        Record(data=datagen.doc_record(d), partition_key=f"pk{d['doc_id'] % N_KEYS}")
        for d in docs
    ]
    for i in range(0, len(recs), 500):
        client.put_records(STREAM, recs[i : i + 500])
    return sum(len(r.data) for r in recs)


class _LayerProbe:
    """Traced runs only: times the intake's layers from outside.

    - a ``PrepIntakeSink`` subclass times each micro-batch;
    - ``tx_append``/``tx_upsert`` and ``start_prep_intake`` are wrapped
      where ``streaming.intake`` and ``pipeline`` import them;
    - a streaming listener collects each batch's ``latestOffset`` time.
    """

    def __init__(self, spark, tracer: Tracer):
        import kinesis_spark.pipeline as pipeline
        import kinesis_spark.streaming.intake as intake
        from pyspark.sql.streaming import StreamingQueryListener

        self.tracer = tracer
        self.batches: list[tuple[float, float]] = []
        self.offsets_ms: list[float] = []
        self._patched = []
        for mod, name, span in (
            (intake, "tx_append", "txstore.tx_append"),
            (intake, "tx_upsert", "txstore.tx_upsert"),
            (pipeline, "start_prep_intake", "streaming.intake.start_prep_intake"),
        ):
            orig = getattr(mod, name)
            setattr(mod, name, self._timed(orig, span))
            self._patched.append((mod, name, orig))

        probe = self

        class _Offsets(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.offsets_ms.append(float(event.progress.durationMs.get("latestOffset", 0)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Offsets()
        spark.streams.addListener(self.listener)
        self.spark = spark

    def _timed(self, fn, span):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(span):
                return fn(*args, **kwargs)

        return wrapper

    def sink(self, cfg):
        from kinesis_spark.streaming.intake import PrepIntakeSink

        probe = self

        class TimedSink(PrepIntakeSink):
            def process_batch(self, batch, batch_id):
                t0 = time.monotonic()
                with probe.tracer.span("streaming.intake.process_batch", batch_id=batch_id):
                    super().process_batch(batch, batch_id)
                probe.batches.append((t0, time.monotonic()))

        return TimedSink(
            self.spark,
            hashes_dir=cfg.hashes,
            bands_dir=cfg.bands,
            store_root=cfg.corpus,
            rollup_root=cfg.rollup,
            partition_cols=cfg.partition_cols,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
        )

    def close(self) -> None:
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self.spark.streams.removeListener(self.listener)


def _drain(spark, cfg, tracer: Tracer, probe: _LayerProbe | None, kind: str):
    """One wave's drain: ``run_intake`` until the audit rows are
    collected. Returns (seconds, audit rows, layer timings)."""
    from kinesis_spark.pipeline import run_intake

    sink = probe.sink(cfg) if probe else None
    n_batches = len(probe.batches) if probe else 0
    n_offsets = len(probe.offsets_ms) if probe else 0
    with tracer.span("intake.wave", kind=kind):
        t0 = time.monotonic()
        with tracer.span("pipeline.run_intake"):
            audit = run_intake(spark, cfg, sink=sink)
        with tracer.span("intake.audit_collect"):
            rows = audit.collect()
        dt = time.monotonic() - t0
    layers = {}
    if probe:
        batches = probe.batches[n_batches:]
        # progress events arrive asynchronously; give them a moment
        deadline = time.monotonic() + 5
        while len(probe.offsets_ms) - n_offsets < len(batches) and time.monotonic() < deadline:
            time.sleep(0.05)
        layers = {
            "streaming.intake.batches": len(batches),
            "streaming.intake.sink_batch_s": sum(b - a for a, b in batches),
            "streaming.intake.audit_s": (t0 + dt) - (batches[-1][1] if batches else t0),
            "streaming.kinesis_source.offsets_s": sum(probe.offsets_ms[n_offsets:]) / 1000.0,
        }
    return dt, rows, layers


def _audit_map(rows) -> dict[tuple[str, str], tuple[int, int]]:
    return {(r.lang, r.source): (int(r.n_docs), int(r.total_tokens)) for r in rows}


def run(work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
    from kinesis_spark.pipeline import IntakeConfig

    res = Result()
    spool = os.path.join(work, "spool")
    cfg = IntakeConfig(spool_dir=spool, stream=STREAM, work_dir=os.path.join(work, "intake"))
    offered = []  # every wave put, in order
    docs = datagen.intake_wave(seed, 0, WAVE_DOCS)

    t_setup = time.monotonic()
    session = Session(tracer)
    probe = None
    try:
        spark = session.spark
        if tracer.enabled:
            probe = _LayerProbe(spark, tracer)
        _put_wave(spool, docs)
        offered.append(docs)
        _, rows, _ = _drain(spark, cfg, tracer, probe, "fresh")
        audits = [rows]
        setup_s = time.monotonic() - t_setup

        waves = []  # (kind, seconds, payload bytes, layers)
        t_timed = time.monotonic()
        k = 1
        while not waves or time.monotonic() - t_timed < seconds:
            for kind, batch in (("replay", docs), ("fresh", datagen.intake_wave(seed, k, WAVE_DOCS))):
                nbytes = _put_wave(spool, batch)
                offered.append(batch)
                dt, rows, layers = _drain(spark, cfg, tracer, probe, kind)
                audits.append(rows)
                waves.append((kind, dt, nbytes, layers))
                if kind == "fresh":
                    docs = batch
            k += 1

        with tracer.span("check.corpus"):
            from kinesis_spark.txstore import tx_read

            corpus_ids = [r.doc_id for r in tx_read(spark, cfg.corpus).select("doc_id").collect()]
    finally:
        if probe:
            probe.close()
        session.stop()
    res.per_layer["session.start_s"] = session.start_s

    oracle = AdmissionOracle()
    for i, (batch, rows) in enumerate(zip(offered, audits)):
        oracle.wave(batch)
        res.check(_audit_map(rows) == oracle.rollup(), f"wave {i} audit differs from the admission replay")
    res.check(
        sorted(corpus_ids) == sorted(oracle.admitted),
        f"corpus holds {len(corpus_ids)} docs, the admission replay admits {len(oracle.admitted)}",
    )
    n_offered = sum(len(w) for w in offered)

    fresh = [w for w in waves if w[0] == "fresh"]
    replay = [w for w in waves if w[0] == "replay"]
    fresh_s, replay_s = median(w[1] for w in fresh), median(w[1] for w in replay)
    res.end_to_end = {
        "setup_s": setup_s,
        "drain_s": fresh_s,
        # one (replay, fresh) pair's payload over its drain time: a
        # change that trades one path's speed for the other's shows
        "mib_per_s": (median(w[2] for w in fresh) + median(w[2] for w in replay))
        / MIB
        / (fresh_s + replay_s),
    }
    res.notes.append(
        "timed waves: " + ", ".join(f"{w[0]} {w[1]:.3f}" for w in waves)
        + f"; admitted {len(oracle.admitted)} of {n_offered} offered"
    )

    if probe:
        pairs = len(replay)

        def per_pair(key: str) -> float:
            return sum(w[3][key] for w in waves) / pairs

        def timed_span_s(*names: str) -> float:
            return sum(
                s.end - s.start for s in tracer.spans
                if s.name in names and s.start >= t_timed
            ) / pairs

        res.per_layer.update({
            "streaming.intake.replay_drain_s": replay_s,
            "streaming.intake.batches": per_pair("streaming.intake.batches"),
            "streaming.intake.sink_batch_s": per_pair("streaming.intake.sink_batch_s"),
            "streaming.intake.audit_s": per_pair("streaming.intake.audit_s"),
            "streaming.kinesis_source.offsets_s": per_pair("streaming.kinesis_source.offsets_s"),
            "streaming.intake.query_start_s": timed_span_s("streaming.intake.start_prep_intake"),
            "streaming.intake.admit_ratio": len(oracle.admitted) / n_offered,
            "txstore.append_s": timed_span_s("txstore.tx_append"),
            "txstore.upsert_s": timed_span_s("txstore.tx_upsert"),
            "txstore.commits": sum(
                1 for s in tracer.spans
                if s.name in ("txstore.tx_append", "txstore.tx_upsert") and s.start >= t_timed
            ) / pairs,
            "txstore.files": sum(
                1
                for root in (cfg.corpus, cfg.rollup)
                for _, _, files in os.walk(root)
                for f in files
                if f.endswith(".parquet")
            ),
        })
    return res
