from .pipeline import (  # noqa: F401
    cve_file_stream,
    cve_kafka_stream,
    run_dual_sink_ingest,
)
from .idle_stop import IdleStopListener, run_until_idle  # noqa: F401
from .windows import (  # noqa: F401
    session_window_rollup,
    stateful_user_totals,
    windowed_event_counts,
)
