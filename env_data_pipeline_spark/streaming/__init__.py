"""Structured Streaming slice (SURVEY.md §2.9, §7 M7).

The reference's event-trigger path is one background task per HTTP
call that only logs (orchestrator.py:960-986). The engine implements
what that stub promises: a streaming event source, O5 priority
routing, windowed aggregation with watermark-based late-data handling,
and a keyed sink — all over the same DataFrame operators as batch.
Those queries are registered in ``plans/`` beside their oracles; this
package holds only the mechanisms they share and imports nothing from
``plans/`` (tests/test_streaming_layout.py).
"""
