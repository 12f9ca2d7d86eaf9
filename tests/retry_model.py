"""Pure-Python reference model of the K5/K6/K7 retry contract.

:class:`RetryTable` is per-record nack/redelivery state in a dict keyed
by message_id; :func:`model_epoch` drives it through one micro-batch
the way :class:`~mi_inbound_pulsar_spark.streaming.delivery.KeyedRetryPipeline`
judges an epoch. Because every epoch is a deterministic function of the
prior state, the batch, the outcomes and the clock, the two can be
compared epoch by epoch (``test_retry_differential.py``).

Rule shared with the product: an unanswered delivery (K6) whose bumped
count reaches ``max_redeliveries`` is dead-lettered in the epoch it goes
unanswered, exactly like a nack, instead of waiting out its ack timeout.
"""

from __future__ import annotations

import time
from collections.abc import Mapping

from mi_inbound_pulsar_spark.config import DeadLetterPolicy


class RetryTable:
    """K5/K6/K7 — per-record nack/redelivery state on top of micro-batch
    replay, in a driver-memory dict keyed by message_id."""

    def __init__(
        self,
        policy: DeadLetterPolicy,
        nack_delay_ms: int = 0,
        ack_timeout_ms: int | None = None,
        backoff_multiplier: float = 1.0,
        max_delay_ms: int | None = None,
    ):
        self.policy = policy
        self.nack_delay_ms = nack_delay_ms
        self.ack_timeout_ms = ack_timeout_ms
        # Pulsar's NegativeAckRedeliveryExponentialBackoff: attempt n
        # waits nack_delay * multiplier^(n-1), capped at max_delay.
        # multiplier=1.0 (default) keeps the reference's fixed delay.
        self.backoff_multiplier = backoff_multiplier
        self.max_delay_ms = max_delay_ms
        self._state: dict[str, tuple[int, float]] = {}  # id -> (redeliveries, last_attempt)
        self._delivered: dict[str, float] = {}  # id -> delivery time, awaiting ack/nack (K6)

    def _delay_s(self, redeliveries: int) -> float:
        delay_ms = self.nack_delay_ms * (self.backoff_multiplier ** max(redeliveries - 1, 0))
        if self.max_delay_ms is not None:
            delay_ms = min(delay_ms, self.max_delay_ms)
        return delay_ms / 1000.0

    def deliver(self, message_ids: list[str], now: float | None = None) -> None:
        """K6 — stamp delivery time. A delivered id that is neither
        acked nor nacked is forced back out once ``ack_timeout_ms``
        elapses (no-op when no ack timeout is configured)."""
        if self.ack_timeout_ms is None:
            return
        now = time.time() if now is None else now
        for mid in message_ids:
            self._delivered[mid] = now

    def _expire_unacked(self, now: float) -> None:
        """K6 — an expired delivery counts as a redelivery trigger, due
        immediately (Pulsar ackTimeout redelivery is not delayed)."""
        if self.ack_timeout_ms is None:
            return
        timeout_s = self.ack_timeout_ms / 1000.0
        for mid, t0 in list(self._delivered.items()):
            if now - t0 >= timeout_s:
                del self._delivered[mid]
                count, _ = self._state.get(mid, (0, 0.0))
                self._state[mid] = (count + 1, now - self._delay_s(count + 1))

    def nack(self, message_ids: list[str], now: float | None = None) -> None:
        """K5 — negative-acknowledge: bump redelivery count, stamp time."""
        now = time.time() if now is None else now
        for mid in message_ids:
            self._delivered.pop(mid, None)
            count, _ = self._state.get(mid, (0, 0.0))
            self._state[mid] = (count + 1, now)

    def ack(self, message_ids: list[str]) -> None:
        """K4 — acknowledged records leave the retry state."""
        for mid in message_ids:
            self._state.pop(mid, None)
            self._delivered.pop(mid, None)

    def due_for_redelivery(self, now: float | None = None) -> list[str]:
        """K5/K6 — ids whose nack delay or ack timeout has elapsed and
        that are still under the DLQ threshold. An id still awaiting its
        ack is never due: only the timeout's expiry brings it back."""
        now = time.time() if now is None else now
        self._expire_unacked(now)
        due = []
        for mid, (count, last) in self._state.items():
            if count >= self.policy.max_redeliveries or mid in self._delivered:
                continue
            if now - last >= self._delay_s(count):
                due.append(mid)
        return due

    def dead_letters(self) -> list[str]:
        """K7 — ids that exhausted max_redeliveries."""
        return [
            mid
            for mid, (count, _) in self._state.items()
            if count >= self.policy.max_redeliveries
        ]

    def redelivery_count(self, message_id: str) -> int:
        return self._state.get(message_id, (0, 0.0))[0]

    def parked(self) -> dict[str, int]:
        """Every id still owed a delivery -> the count that delivery will
        carry (an unanswered id's next delivery counts the timeout)."""
        out = {mid: count for mid, (count, _) in self._state.items()}
        for mid in self._delivered:
            out[mid] = self.redelivery_count(mid) + 1
        return out


def model_epoch(
    table: RetryTable,
    fresh_ids: list[str],
    outcomes: Mapping[tuple[str, int], bool | None],
    now: float,
) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """One micro-batch: deliver the fresh ids (count 0) and the due
    redeliveries, then judge each delivery by its outcome keyed by
    ``(message_id, redelivery_count)``. Only ``True`` acks; ``False``
    and ``None`` nack; a missing key is the K6 unanswered case, a nack
    when no ack timeout is set or when its bumped count reaches the max.
    Returns the delivered ``(id, count)`` pairs and the rows
    dead-lettered this epoch with their final count."""
    due = table.due_for_redelivery(now=now)
    delivered = [(mid, 0) for mid in fresh_ids]
    delivered += [(mid, table.redelivery_count(mid)) for mid in due]
    acked, nacked, unanswered = [], [], []
    for mid, count in delivered:
        if (mid, count) in outcomes:
            (acked if outcomes[mid, count] is True else nacked).append(mid)
        elif table.ack_timeout_ms is None or count + 1 >= table.policy.max_redeliveries:
            nacked.append(mid)
        else:
            unanswered.append(mid)
    table.ack(acked)
    table.nack(nacked, now=now)
    table.deliver(unanswered, now=now)
    # K7: exhausted ids leave the retry loop for the DLQ
    dead = [(mid, table.redelivery_count(mid)) for mid in table.dead_letters()]
    table.ack([mid for mid, _ in dead])
    return delivered, dead
