"""Structured Streaming face over the incremental path."""

from .incremental import incremental_stream

__all__ = ["incremental_stream"]
