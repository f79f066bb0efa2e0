"""Fail-stop error channel (SURVEY §8.5).

The reference's ``_log_and_raise`` (reference formatter.py:134-137) logs
and raises a plain Exception, killing the stream — no skip, no DLQ. In
the DataFrame rebuild, parse operators emit an ``error`` column instead
of raising mid-plan; the sink (``KinesisLikeWriter.process_batch``)
reproduces the fail-stop, raising for the first error in LSN order.
"""

from __future__ import annotations


class CdcParseError(Exception):
    """Raised for the first parse/enrich error, message-compatible with
    the reference's _log_and_raise."""
