"""The benchmark's workloads: each drives one of the engine's public entry
points on staged inputs, one operation at a time, and checks the outputs
against a closed form.

A workload is built during set-up (its constructor stages whatever the
engine needs beyond the raw tables), then :meth:`op` runs one operation
and :meth:`gate` returns the mismatches found in the outputs of the last
one.  ``units`` is the number of operations in the sense of
``error_rate`` (ticks, waves, curation stages) one call covers.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tg_reporting_etl_spark.adapters import testdata as td
from tg_reporting_etl_spark.runner.board import LEVELS
from tg_reporting_etl_spark.runner.executor import TransSummaryFamily, execute_board
from tg_reporting_etl_spark.runner.timeslice import expand_timeslices

import inputs

_TIER = {"5min": "5min", "1H": "1h", "1D": "1d", "1M": "1m"}


def same(got: DataFrame, want: DataFrame, what: str) -> list[str]:
    """Multiset equality on ``want``'s columns, doubles rounded to 4
    places (two plans may sum in different orders).  The tables are
    small, so both sides are compared on the driver."""

    def rows(df: DataFrame) -> Counter:
        return Counter(
            tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in df.select(*want.columns).collect()
        )

    g, w = rows(got), rows(want)
    if not w:
        return [f"{what}: no rows"]
    if g != w:
        return [f"{what}: {sum((g - w).values())} rows not in the closed form, {sum((w - g).values())} missing"]
    return []


def _board(spark, rows: list[tuple[datetime, datetime, str]], done: int) -> DataFrame:
    """A trans_summary board of the unit windows of ``rows`` (gte, lt, freq)."""
    meta = spark.createDataFrame(
        [(g, l, "ALL", "ALL", "ALL", "trans_summary", f"trans_summary_{_TIER[f]}", f, LEVELS[f]) for g, l, f in rows],
        "gte_time timestamp, lt_time timestamp, platform string, site_code string, game_code string, "
        "report_class string, assignee string, freq_type string, level int",
    )
    return expand_timeslices(meta).withColumn("done", F.lit(done))


class Workload:
    units = 1

    def __init__(self, spark, in_dir: str, work: str, start: str, tracer):
        self.spark, self.in_dir, self.work, self.start, self.tracer = spark, in_dir, work, start, tracer

    def close(self) -> None:
        pass

    def exhausted(self, i: int) -> bool:
        return False

    def last_batch(self) -> int | None:
        return None

    def layers(self) -> dict[str, float]:
        """Per-layer metrics read from the last operation's outputs."""
        return {}


class Cycle5Min(Workload):
    """One 5-minute cycle of the trans tier, on both of the engine's paths.

    The batch path is a ``Daemon`` on a trans board: ``producer_tick``
    then ``executor_tick`` at the cycle's mark.  The first mark, the
    warm-up, is an hour mark and mints a 1H task too.
    The streaming twin is ``streaming_trans_summary_5min`` in update mode
    feeding ``start_partitioned_sink``: the cycle releases the mark's
    wave of wallet rows to its source and waits in
    ``processAllAvailable`` until the sink has committed it.  The first
    ``LATE_S`` seconds of wave ``LATE_AFTER`` are held back and arrive
    with the next wave: late, inside the watermark.
    """

    units = 2  # a tick and a wave

    def __init__(self, spark, in_dir, work, start, tracer):
        from tg_reporting_etl_spark.runner.daemon import Daemon
        from tg_reporting_etl_spark.streaming.pipeline import (
            TRANS_5MIN_GRAIN,
            start_partitioned_sink,
            streaming_trans_summary_5min,
        )

        super().__init__(spark, in_dir, work, start, tracer)
        s = datetime.fromisoformat(start)
        self.wallet = td.player_value_log(spark, in_dir)

        self.board_path = os.path.join(work, "board")
        self.err_path = os.path.join(work, "errors")
        hour = s.replace(minute=0)
        _board(spark, [(s - timedelta(minutes=5), s, "5min"), (hour - timedelta(hours=1), hour, "1H")], done=1).write.parquet(
            self.board_path
        )
        self.family = TransSummaryFamily(self.wallet, os.path.join(work, "tables"))
        self.daemon = Daemon(spark, self.board_path, [self.family], error_log_path=self.err_path)
        self.ticks: list[tuple[int, int]] = []  # (minted, executed) per tick

        sec = F.unix_timestamp("trade_time") - F.lit(int(s.replace(tzinfo=timezone.utc).timestamp()))  # session tz is UTC
        k = F.floor(sec / 300).cast("int")
        late = (k == inputs.LATE_AFTER) & (sec % 300 < inputs.LATE_S)
        self.staged, self.src = os.path.join(work, "staged"), os.path.join(work, "src")
        self.sink = os.path.join(work, "sink")
        self.wallet.withColumn("wave", F.when(late, k + 1).otherwise(k)).write.partitionBy("wave").parquet(self.staged)
        os.makedirs(self.src)
        stream = spark.readStream.schema(self.wallet.schema).parquet(self.src)
        self.query = start_partitioned_sink(
            streaming_trans_summary_5min(stream), self.sink, os.path.join(work, "ckpt"), TRANS_5MIN_GRAIN
        )

    def mark(self, i: int) -> datetime:
        return datetime.fromisoformat(self.start) + timedelta(minutes=5 * (i + 1))

    def exhausted(self, i: int) -> bool:
        return i >= inputs.N_WAVES

    def op(self, i: int) -> None:
        now = self.mark(i)
        with self.tracer.span("cycle"):
            with self.tracer.span("streaming.wave", watch=(str(self.query.runId),)):
                staged = os.path.join(self.staged, f"wave={i}")
                for f in sorted(os.listdir(staged)):
                    if f.startswith("part-"):
                        os.replace(os.path.join(staged, f), os.path.join(self.src, f"w{i:03d}-{f}"))
                self.query.processAllAvailable()
            with self.tracer.span("runner.producer_tick"):
                minted = self.daemon.producer_tick(now)
            with self.tracer.span("runner.executor_tick"):
                executed = len(self.daemon.executor_tick(now))
        self.ticks.append((minted, executed))

    def close(self) -> None:
        self.query.stop()

    def gate(self) -> list[str]:
        """The daemon's tables equal one ``execute_board`` over the same
        windows and leave no window pending; the stream sink equals the
        batch 5-min closed form over every released row, late wave
        included."""
        from tg_reporting_etl_spark.operators.trans_summary import trans_summary_5min

        spark, errors = self.spark, []
        if os.path.exists(self.err_path):
            errors.append(f"daemon error log: {spark.read.parquet(self.err_path).count()} entries")
        for k, (minted, executed) in enumerate(self.ticks):
            if minted < 1 or executed < minted:
                errors.append(f"tick {k}: minted {minted}, executed {executed}")
        if spark.read.parquet(self.board_path).filter(F.col("done") == 0).count():
            errors.append("board: a closed window was left pending")
        start, end = datetime.fromisoformat(self.start), self.mark(len(self.ticks) - 1)
        rows = [(start, end, "5min"), (start.replace(minute=0), end.replace(minute=0), "1H")]
        oneshot = TransSummaryFamily(self.wallet, os.path.join(self.work, "oneshot"))
        execute_board(spark, _board(spark, rows, done=0), oneshot, end.strftime(inputs.FMT))
        for gte, lt, freq in rows:
            # a rollup also rewrites the still-open windows of its day, so
            # compare the windows on the board only
            on_board = (F.col("start_time") >= F.lit(gte)) & (F.col("start_time") < F.lit(lt))
            tier = _TIER[freq]
            got, want = (f.read_tier(spark, tier).filter(on_board) for f in (self.family, oneshot))
            errors += same(got, want, f"trans_summary_{tier}")

        if self.query.exception() is not None:
            errors.append(f"stream query failed: {self.query.exception()}")
        if len(self.ticks) <= inputs.LATE_AFTER + 1:
            errors.append("the late wave was not released")
        released = spark.read.parquet(self.src)
        want = trans_summary_5min(released, self.start, end.strftime(inputs.FMT))
        errors += same(spark.read.parquet(self.sink), want, "stream sink")
        return errors

    def progress(self, since: int) -> list[dict]:
        """Progress reports of the stream's batches with input after
        batch ``since``."""
        return [p for p in self.query.recentProgress if p["batchId"] > since and p["numInputRows"] > 0]

    def last_batch(self) -> int:
        return (self.query.lastProgress or {"batchId": -1})["batchId"]

    def outputs(self) -> tuple[list[str], int]:
        """Output dirs and the rows they hold."""
        rows = self.family.read_tier(self.spark, "5min").count() + self.spark.read.parquet(self.sink).count()
        return [self.family.out_dir, self.sink], rows

    def layers(self) -> dict[str, float]:
        return {"runner.board_rows": self.daemon.read_board().count()}


class CurateCorpus(Workload):
    """The README's LLM chain on ``documents``: near-dup pairs ->
    components -> curation -> span removal -> mixture sample -> packing
    -> balanced shards.  The traced run materializes every stage so each
    span holds its stage's work."""

    units = 7
    WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}

    def __init__(self, spark, in_dir, work, start, tracer):
        from tg_reporting_etl_spark.sources.readers import load_table

        super().__init__(spark, in_dir, work, start, tracer)
        self.docs = load_table(spark, in_dir, "documents")
        self.out = None
        self.cached: list[DataFrame] = []

    def _stage(self, name: str, make, cache: bool = False) -> DataFrame:
        with self.tracer.span(name):
            df = make()
            if cache or self.tracer.enabled:
                df = df.cache()
                df.count()
                self.cached.append(df)
        return df

    def op(self, i: int) -> None:
        from tg_reporting_etl_spark.functions import curation as cu
        from tg_reporting_etl_spark.functions import dedup as dd
        from tg_reporting_etl_spark.functions import packing as pk
        from tg_reporting_etl_spark.functions import sampling as sp
        from tg_reporting_etl_spark.functions import spans as sn

        for df in self.cached:
            df.unpersist()
        self.cached = []
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.work, f"shards{i}")
        docs = self.docs
        with self.tracer.span("functions.chain"):
            pairs = self._stage("functions.dedup.pairs", lambda: dd.ngram_jaccard_dedup_capped(docs, 0.35))
            comp = self._stage("functions.dedup.components", lambda: dd.connected_components(pairs.select("doc_a", "doc_b")))
            kept = self._stage("functions.curation.curate", lambda: cu.curate_corpus(docs, comp, 0.3, 0.6), cache=True)
            kept_docs = docs.join(kept.select("doc_id"), "doc_id")
            clean = self._stage("functions.spans.remove", lambda: sn.remove_duplicated_spans(kept_docs))
            kept_docs = self._stage(
                "functions.spans.rejoin",
                lambda: kept_docs.drop("text").join(clean.select("doc_id", F.col("text_clean").alias("text")), "doc_id"),
                cache=True,
            )
            mixed = self._stage("functions.sampling.mixture", lambda: sp.mixture_sample(kept, "source", self.WEIGHTS), cache=True)
            with self.tracer.span("functions.packing.pack"):
                packed = pk.pack_sequences(mixed.select("doc_id", "n_tokens"), 256).collect()
            with self.tracer.span("functions.packing.shards"):
                text_back = kept_docs.select("doc_id", "text").join(mixed.select("doc_id"), "doc_id")
                pk.write_balanced_shards(text_back, self.out, tokens_per_shard=2000)
        self.frames = {"pairs": pairs, "comp": comp, "kept": kept, "clean": clean, "kept_docs": kept_docs, "mixed": mixed}
        self.packed = packed

    def gate(self) -> list[str]:
        """The invariants of the pipeline's integration test, on the
        outputs of the last chain."""
        f, errors = self.frames, []
        n_docs = self.docs.count()
        n_comp, n_kept = f["comp"].count(), f["kept"].count()
        if not 0 < n_comp < n_docs:
            errors.append(f"components: {n_comp} of {n_docs} docs")
        if not 0 < n_kept < n_docs:
            errors.append(f"curation kept {n_kept} of {n_docs} docs")
        dropped = {r.doc_id for r in f["comp"].filter("doc_id != component_id").select("doc_id").collect()}
        if dropped & {r.doc_id for r in f["kept"].select("doc_id").collect()}:
            errors.append("curation kept a non-keeper of a near-dup component")
        if f["clean"].count() != n_kept or f["kept_docs"].count() != n_kept:
            errors.append("span removal lost or duplicated documents")
        if (f["clean"].agg(F.sum("removed_chars")).first()[0] or 0) < 0:
            errors.append("span removal reports negative removed chars")
        n_mixed = f["mixed"].count()
        if not 0 < n_mixed <= n_kept:
            errors.append(f"mixture sample has {n_mixed} of {n_kept} docs")
        if not {r.source for r in f["mixed"].select("source").distinct().collect()} <= set(self.WEIGHTS):
            errors.append("mixture sample has an unweighted source")
        total = f["mixed"].agg(F.sum("n_tokens")).first()[0]
        if sum(r.n_tokens for r in self.packed) != total:
            errors.append("packing lost tokens")
        if not all(r.n_tokens == 256 for r in sorted(self.packed, key=lambda r: r.seq_id)[:-1]):
            errors.append("packing left a short sequence before the last")
        n_shards = self.spark.read.parquet(self.out).count()
        if n_shards != n_mixed:
            errors.append(f"shards hold {n_shards} docs, expected {n_mixed}")
        return errors

    def outputs(self) -> tuple[list[str], int]:
        return [self.out], self.frames["mixed"].count()

    def layers(self) -> dict[str, float]:
        return {
            "functions.dedup.pairs_out": self.frames["pairs"].count(),
            "functions.curation.keep_ratio": self.frames["kept"].count() / self.docs.count(),
        }


WORKLOADS = {
    "cycle_5min": Cycle5Min,
    "curate_corpus": CurateCorpus,
}

