from .events import stream_events_from_dir, windowed_event_aggregate

__all__ = [
    "stream_events_from_dir",
    "windowed_event_aggregate",
]
