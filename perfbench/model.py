"""Independent recompute of what a benchmark table must contain.

The oracle never touches the engine: it starts from the generator's
DataFrame (``sources.generator.transcripts_df``), replays the seeded
upserts and deletes as plain DataFrame operations, and reduces the result
to the checksum every timed read also computes:

    (count(*), bit_xor(xxhash64(conv_id, turn_idx, text)))

``bit_xor`` and not ``sum``: with ANSI mode on, a ``sum`` of 64-bit hashes
raises ``ARITHMETIC_OVERFLOW``.

Replay rule. Every event carries its position in the write log. A key's
state after the first ``upto`` events is the base row (position -1) or the
latest upsert or delete at a position below ``upto``. Delete predicates
only name ``conv_id``, ``turn_idx`` and ``ts``, which never change for a
key, so a predicate can be evaluated once over the universe of keys.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEYS = ("conv_id", "turn_idx")
ROW_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts_s long"


def checksum_cols():
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("x"),
    ]


def checksum(df: DataFrame) -> tuple[int, int]:
    """One action that decodes ``conv_id``, ``turn_idx`` and ``text``."""
    r = df.agg(*checksum_cols()).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def rows_df(spark: SparkSession, rows: Sequence[tuple]) -> DataFrame:
    """Transcript rows given as ``(conv_id, turn_idx, role, text, tool,
    ts_epoch_s)`` tuples, with ``ts`` built from epoch seconds so no
    local-time conversion is involved."""
    return (
        spark.createDataFrame(list(rows), ROW_DDL)
        .withColumn("ts", F.timestamp_seconds("ts_s"))
        .drop("ts_s")
    )


class Model:
    def __init__(self, spark: SparkSession, base: DataFrame):
        self.spark = spark
        self.base = base
        self._upserts: list[tuple] = []  # (conv_id, turn_idx, role, text, tool, ts_s, pos)
        self._deletes: list[tuple[int, str]] = []
        self.version = 0  # number of events so far
        self._cache: DataFrame | None = None

    def upsert(self, rows: Iterable[tuple]) -> None:
        self._upserts.extend(tuple(r) + (self.version,) for r in rows)
        self.version += 1

    def delete(self, predicate: str) -> None:
        self._deletes.append((self.version, predicate))
        self.version += 1

    @contextmanager
    def cached(self):
        """Keep the replayed events in memory while several checks read them."""
        self._cache = self._events().persist()
        try:
            yield
        finally:
            self._cache.unpersist()
            self._cache = None

    def _events(self) -> DataFrame:
        if self._cache is not None:
            return self._cache
        base = self.base.select(
            *KEYS, "ts", "text", F.lit(-1).alias("_pos"), F.lit(False).alias("_del")
        )
        events = base
        if self._upserts:
            ups = (
                self.spark.createDataFrame(self._upserts, ROW_DDL + ", _pos int")
                .withColumn("ts", F.timestamp_seconds("ts_s"))
                .select(*KEYS, "ts", "text", "_pos", F.lit(False).alias("_del"))
            )
            events = events.unionByName(ups)
        if self._deletes:
            # one pass over the keys: each key gets one event per
            # delete whose predicate it matches
            hits = F.array_compact(
                F.array(*(F.when(F.expr(pred), F.lit(pos)) for pos, pred in self._deletes))
            )
            events = events.unionByName(
                events.select(*KEYS, "ts").distinct().select(
                    *KEYS,
                    "ts",
                    F.lit(None).cast("string").alias("text"),
                    F.explode(hits).alias("_pos"),
                    F.lit(True).alias("_del"),
                )
            )
        return events

    @staticmethod
    def _latest(events: DataFrame, group: Sequence[str]) -> DataFrame:
        last = events.groupBy(*group).agg(
            F.max(F.struct("_pos", "_del", "text", "ts")).alias("s")
        )
        return last.filter(~F.col("s._del")).select(
            *group, F.col("s.text").alias("text"), F.col("s.ts").alias("ts")
        )

    def state(self) -> DataFrame:
        """Live rows after every event: ``conv_id, turn_idx, text, ts``."""
        return self._latest(self._events(), KEYS)

    def conv_checksums_at(self, checks: Sequence[tuple[int, str, int]]) -> dict:
        """{check id: (count, xor)} for ``(check id, conv_id, upto)``
        checks — one conversation's live rows after the first ``upto``
        events. One job for all checks."""
        if not checks:
            return {}
        cdf = self.spark.createDataFrame(list(checks), "_cid int, conv_id string, _upto int")
        ev = self._events().join(F.broadcast(cdf), on="conv_id").filter(
            F.col("_pos") < F.col("_upto")
        )
        live = self._latest(ev, ("_cid", *KEYS))
        got = {r["_cid"]: (int(r["n"]), int(r["x"] or 0))
               for r in live.groupBy("_cid").agg(*checksum_cols()).collect()}
        return {cid: got.get(cid, (0, 0)) for cid, _, _ in checks}
