"""Reliability sinks (SURVEY.md §2.5): UDSink status routing — fallback (DLQ),
on-success chaining, retry with backoff — realized inside foreachBatch.

Reference: sink responses carry per-message status {SUCCESS, FAILURE,
FALLBACK, SERVE, ON_SUCCESS} (sink.proto:86-92); routing in
``src/sinker/sink.rs:180-230``; retry strategy {interval, steps, factor,
jitter} + onFailure: retry|drop|fallback (retry_strategy.go); e2e
functional_test.go:305 (fallback), :322 (on-success), :339 (retry).

Spark realization: the primary writer is a callable over the batch
DataFrame. It may *partition* the batch by returning a status column; rows
marked FALLBACK go to the fallback writer (DLQ), successful rows optionally
feed an on-success writer. Retries wrap the primary writer with exponential
backoff — batch-level, since Spark's unit of redelivery is the micro-batch
(per-message nack W10 is a documented divergence; the DLQ pattern below is
its substitute).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class RetryStrategy:
    """retry_strategy.go: backoff {interval, steps, factor}; onFailure
    routing. jitter omitted — determinism beats thundering-herd avoidance in
    a single-driver engine."""

    interval_s: float = 0.001
    steps: int = 3
    factor: float = 1.5
    on_failure: str = "fallback"  # retry-exhausted routing: drop|fallback|raise

    def __post_init__(self) -> None:
        if self.on_failure not in ("drop", "fallback", "raise"):
            raise ValueError("on_failure must be drop|fallback|raise")


@dataclass
class ReliableSink:
    """UDSink with status routing. ``primary`` writes a batch and may raise;
    ``fallback`` receives the batch when the primary exhausts retries
    (FALLBACK status / DLQ, sink.go:26-29); ``on_success`` runs after a
    successful primary write with the same batch (sink.go:30-34)."""

    primary: Callable[[DataFrame, int], None]
    fallback: Callable[[DataFrame, int], None] | None = None
    on_success: Callable[[DataFrame, int], None] | None = None
    retry: RetryStrategy = None  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if self.retry is None:
            self.retry = RetryStrategy()

    def __call__(self, df: DataFrame, epoch_id: int) -> None:
        # When a tags column exists the batch is scanned at least twice
        # (primary write + possible NACK/on-success writes) — persist it so
        # the primary's pass warms the cache feeding every later write.
        routed = "tags" in df.columns
        if routed:
            df = df.persist()
        try:
            if routed:
                batch, nacked, obs = self._split_nacks(df)
            else:
                batch, nacked, obs = df, None, None
            delay = self.retry.interval_s
            last_err: Exception | None = None
            for attempt in range(max(1, self.retry.steps)):
                try:
                    self.primary(batch, epoch_id)
                    if self.on_success is not None:
                        self.on_success(batch, epoch_id)
                except Exception as e:  # noqa: BLE001 — sink contract is status, not types
                    last_err = e
                    if attempt + 1 < self.retry.steps:
                        time.sleep(delay)
                        delay *= self.retry.factor
                    continue
                # NACK routing rides the primary write's observed metrics —
                # no extra action on NACK-free batches (VERDICT r3 #6) —
                # and runs OUTSIDE the retry try so a loud no-fallback
                # ValueError is not swallowed as a primary failure. The
                # Observation captures the FIRST finished action over the
                # batch, which after a retry is the FAILED attempt's partial
                # scan — so the metric is only trusted when attempt 0 is the
                # one that succeeded; otherwise fall back to a direct count.
                if routed:
                    self._drain_nacks(nacked, obs if attempt == 0 else None, epoch_id)
                return
            if self.retry.on_failure == "fallback" and self.fallback is not None:
                # the whole batch — nacked rows included — lands in the DLQ
                self.fallback(df if routed else batch, epoch_id)
                return
            if self.retry.on_failure == "drop":
                # rare path: data rows drop, but NACKed rows still request
                # redelivery — probe-and-route is fine off the hot path.
                # Dropping NACKed rows with nowhere to route them gets the
                # same loud failure as the success path: silence here would
                # un-request a redelivery the message explicitly asked for.
                if routed and not nacked.isEmpty():
                    if self.fallback is None:
                        raise ValueError(
                            "retry exhausted with on_failure='drop', but the "
                            "batch contains NACK-tagged messages and the sink "
                            "has no fallback/DLQ writer to route them to"
                        )
                    self.fallback(nacked, epoch_id)
                return
            raise last_err  # raise: let Spark retry the task / fail the query
        finally:
            if routed:
                df.unpersist()

    def _split_nacks(self, df: DataFrame):
        """W10 per-message NACK: NACK-tagged rows (message.rs:94, 409-422)
        request redelivery; Spark has no per-row nack, so they route to the
        fallback/DLQ writer instead of being silently delivered as data
        (the documented divergence — per-message-nack.md).

        Returns (batch-minus-nacks, nacked, observation): the NACK count is
        attached as an ``observe`` metric on the batch, so the primary
        write itself reports it — the former per-micro-batch ``isEmpty()``
        probe (an extra full-batch action even when nothing was NACKed) is
        gone."""
        from pyspark.sql import Observation, functions as F

        from numaflow_spark.message import NACK_TAG

        tags = F.col("tags")
        is_nack = tags.isNotNull() & F.array_contains(tags, NACK_TAG)
        obs = Observation()
        observed = df.observe(obs, F.count(F.when(is_nack, 1)).alias("n_nack"))
        return observed.filter(~is_nack), df.filter(is_nack), obs

    def _drain_nacks(self, nacked: DataFrame, obs, epoch_id: int) -> None:
        """Route NACKed rows to the DLQ after a successful primary write,
        using the write's own observed metric. ``obs=None`` means the metric
        is untrusted (retried batch: the observation belongs to the failed
        first attempt) or the primary performed no action over the batch —
        in both cases fall back to counting directly."""
        n = self._observed_nacks(obs) if obs is not None else None
        if n is None:
            n = nacked.count()
        if n:
            if self.fallback is None:
                raise ValueError(
                    "batch contains NACK-tagged messages but the sink has no "
                    "fallback/DLQ writer to route them to (per-message nack "
                    "is realized as DLQ routing in this engine)"
                )
            self.fallback(nacked, epoch_id)

    @staticmethod
    def _observed_nacks(obs) -> int | None:
        """Non-blocking read of the observed NACK count: None if no action
        has materialized the metric yet. Uses the JVM Observation's
        ``getRowOrEmpty`` (the public python ``get`` blocks forever when no
        action ran); any bridge surprise degrades to None → direct count."""
        try:
            row_opt = obs._jo.getRowOrEmpty()
            if not row_opt.isDefined():
                return None
            return int(row_opt.get().getLong(0))
        except Exception:  # noqa: BLE001 — py4j/API drift → correctness fallback
            return None


def parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """Durable columnar sink (K-series analogue of the kafka/log sinks for
    the batch-file world).

    An empty micro-batch writes nothing: an append-mode window emits rows
    only on the trigger that closes it, and appending an empty batch still
    runs a full write job and commit and leaves a zero-row file. The batch
    is persisted and counted once, so the stateful step above the sink runs
    once per batch (a bare ``isEmpty()`` probe would re-run it for every
    non-empty batch), and the write reads the cached rows."""

    def write(df: DataFrame, epoch_id: int) -> None:
        df.persist()
        try:
            if df.count():
                df.write.mode("append").parquet(path)
        finally:
            df.unpersist()

    return write
