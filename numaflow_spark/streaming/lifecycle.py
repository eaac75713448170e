"""W6 pause/resume + W7 rate limiting: the pipeline lifecycle controls.

Reference:
  * lifecycle ``desiredPhase: Paused|Running`` with a drain grace period —
    pipeline_types.go:444-493. Pausing stops reading, lets in-flight work
    complete, keeps state; resuming picks up where it left off.
  * vertex rate limiting: TPS ramp from ``min`` to ``max`` over a ramp-up
    schedule (rate_limiter.go:9-71; rust/numaflow-throttling/).

Spark realization:
  * pause  = ``query.stop()`` (Spark lets the active micro-batch finish —
    the drain grace); state lives in the checkpoint, not the query object.
  * resume = re-running the same writeStream against the same checkpoint;
    the restarted query replays uncommitted ranges only (at-least-once, and
    exactly-once into idempotent sinks — the ack-chain analogue).
  * static rate cap = source admission control (``maxOffsetsPerTrigger`` /
    ``maxFilesPerTrigger`` / rate source ``rowsPerSecond``).
  * dynamic ramp-up = :class:`Throttler` pacing inside foreachBatch: Spark
    cannot retune source options on a live query, so the ramp is enforced at
    the sink boundary — backpressure then slows the trigger loop, which is
    the same mechanism numaflow uses (full buffers slow the reader).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class RateLimit:
    """rate_limiter.go surface: min→max TPS over ramp_up_s seconds."""

    max_tps: float
    min_tps: float | None = None
    ramp_up_s: float = 0.0

    def __post_init__(self) -> None:
        if self.min_tps is None:
            self.min_tps = self.max_tps
        if self.min_tps > self.max_tps:
            raise ValueError("min_tps must be <= max_tps")

    def allowed_tps(self, elapsed_s: float) -> float:
        """Current allowance: linear ramp min→max (relaxed mode — the
        reference's default ramp, rate_limiter.go:30-47)."""
        if self.ramp_up_s <= 0 or elapsed_s >= self.ramp_up_s:
            return self.max_tps
        frac = max(0.0, elapsed_s) / self.ramp_up_s
        return self.min_tps + (self.max_tps - self.min_tps) * frac

    def source_options(self, trigger_interval_s: float = 1.0) -> dict[str, str]:
        """Static admission control for sources that honor it (Kafka/file/
        rate): records admitted per trigger at the steady-state cap."""
        per_trigger = max(1, int(self.max_tps * trigger_interval_s))
        return {
            "maxOffsetsPerTrigger": str(per_trigger),
            "maxFilesPerTrigger": str(max(1, per_trigger // 1000) if per_trigger >= 1000 else 1),
        }


class Throttler:
    """foreachBatch pacing decorator enforcing a :class:`RateLimit`.

    Wraps a batch writer; after each batch it sleeps just enough that the
    cumulative row rate stays at/below the current ramp allowance. The sleep
    happens on the driver between micro-batches — executors are never idle
    mid-batch, so throughput inside a batch is unaffected (load-shaping, not
    task slowdown)."""

    def __init__(self, limit: RateLimit, writer: Callable[["object", int], None],
                 shared_limiter=None):
        self.limit = limit
        self.writer = writer
        # Optional distributed mode: a streaming/throttle_store.py
        # DistributedRateLimit whose budget is SPLIT across every live
        # pipeline sharing the same store (the reference's
        # numaflow-throttling pool semantics); the local ramp pacing below
        # still applies on top as this replica's ceiling.
        self.shared_limiter = shared_limiter
        self._t0: float | None = None
        self._rows = 0

    def __call__(self, df, epoch_id: int) -> None:
        if self._t0 is None:
            self._t0 = time.monotonic()
        n = df.count()
        if self.shared_limiter is not None and n:
            # Block until the fleet-wide bucket grants this batch's rows;
            # over-grants (window roll mid-acquire) are not possible since
            # acquire_n never returns more than asked.
            need = n
            while need > 0:
                got = self.shared_limiter.acquire_n(need)
                if got <= 0:
                    # acquire_n without a timeout blocks until it can
                    # grant; a 0 return means the limiter was shut down
                    # mid-batch. Stop shaping rather than hot-spinning —
                    # the batch still writes (shutdown must not drop data).
                    break
                need -= got
        self.writer(df, epoch_id)
        self._rows += n
        elapsed = time.monotonic() - self._t0
        target = self._rows / self.limit.allowed_tps(elapsed)
        if target > elapsed:
            time.sleep(target - elapsed)


@dataclass
class Lifecycle:
    """desiredPhase controller over a restartable streaming query.

    ``start_fn`` builds and starts the query (same plan, same checkpoint
    every time) — the declarative spec the CRD holds. The controller only
    flips phases, exactly like the reference's reconciler."""

    start_fn: Callable[[], object]
    query: object | None = None
    phase: str = field(default="Stopped")

    def run(self) -> object:
        """Running: start the query unless it already runs. After a pause
        this restarts from the checkpoint — unprocessed ranges replay,
        committed ones don't (WAL-replay semantics)."""
        if self.phase != "Running":
            self.query = self.start_fn()
            self.phase = "Running"
        return self.query

    resume = run

    def pause(self, drain: bool = True) -> None:
        """Paused: stop reading; optionally drain buffered work first
        (the pauseGracePeriodSeconds analogue)."""
        if self.query is not None and self.phase == "Running":
            if drain:
                try:
                    self.query.processAllAvailable()
                except Exception:  # noqa: BLE001 — racing a failing query is still a pause
                    pass
            self.query.stop()
        self.phase = "Paused"
