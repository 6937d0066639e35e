"""Operator vocabulary: pure DataFrame→DataFrame functions.

The reference copy-pastes each windowed aggregation three times
(streaming/StreamingJobImpl.scala:43-77, batch/BatchJobImpl.scala:46-88);
here each operator is written once and parameterized (key, window,
watermark, tag). Extension operators (dedup / similarity / text) live
alongside because at 100 TB they are first-class pipeline stages, not
afterthoughts.
"""

from .partitions import derive_time_partitions
from .metrics import windowed_sum, conform_metric, fanout_windowed_sum
from .enrich import enrich
from .quota import quota_violations
from .parse import parse_json_payload

__all__ = [
    "derive_time_partitions",
    "windowed_sum",
    "conform_metric",
    "fanout_windowed_sum",
    "enrich",
    "quota_violations",
    "parse_json_payload",
]
