"""Window, session and stream-stream join operators in their batch form
(SURVEY.md §2.10 notes the reference has no streaming); each definition
also runs under ``readStream`` once a watermark is added."""

from .events import tumbling_event_counts  # noqa: F401
from .joins import attribution_join  # noqa: F401
