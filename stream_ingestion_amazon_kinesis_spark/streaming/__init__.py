from .pipeline import (  # noqa: F401
    dedup_event_stream,
    read_event_stream,
    read_session_stream,
    run_to_memory_sink,
    windowed_event_counts,
)
from .stateful import running_user_profiles  # noqa: F401
