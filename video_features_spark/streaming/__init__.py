from .ops import (  # noqa: F401
    stream_asof_lookup,
    stream_dedup,
    stream_running_entity_state,
    stream_sessionize,
    stream_tumbling_agg,
)
