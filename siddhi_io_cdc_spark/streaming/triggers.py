"""Pacing: interval trigger (T6) and cron one-shots (T7).

The reference sleeps ``polling.interval`` seconds between polls
(DefaultPollingStrategy.java:95, default 1 s per CDCSourceConstants.java:77)
or fires Quartz cron jobs (polling/CDCCronExecutor.java:56-96). Spark's
built-in triggers cover both:

- interval  → ``trigger(processingTime=...)``
- cron      → an external scheduler (cron/Airflow) running a bounded
  ``trigger(availableNow=True)`` drain per firing; ``cron_run`` packages one
  such drain. Cron and gap-wait are mutually exclusive in the reference
  (CDCSource.java:804-807) — we keep the same validation.
"""

from __future__ import annotations


def interval_trigger(seconds: float = 1.0) -> dict:
    """kwargs for ``DataStreamWriter.trigger`` matching ``polling.interval``."""
    if seconds < 0:
        # Mirrors validation at CDCSource.java:813-817.
        raise ValueError("polling interval must be >= 0")
    millis = int(seconds * 1000)
    return {"processingTime": f"{millis} milliseconds"}


def cron_run(writer, timeout: float | None = None) -> None:
    """Run one availableNow drain — the body of a cron firing (T7).

    ``writer`` is a fully-configured ``DataStreamWriter`` (checkpointed!).
    Each call processes everything new since the last run, then stops —
    exactly one reference cron 'poll()'.
    """
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination(timeout)
