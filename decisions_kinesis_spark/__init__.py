"""decisions_kinesis_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of zitacconsulting/Decisions.Kinesis.

The reference is a Kinesis consumer/producer module: source connectors,
record decode, JSON-path predicate filtering, checkpointed at-least-once
dispatch (SURVEY.md §2).  This package re-expresses that surface on
Spark's DataFrame / Structured Streaming model and extends it with the
relational + LLM-data-pipeline operators of SURVEY.md §7.

Layout:
  config       — queue/settings dataclasses + validation (KinesisMessageQueue.cs:417-472)
  functions/   — filter-verb compiler, envelope/decode/JSON helpers
  sources/     — batch table loaders, streaming sources, kinesis option surface
  operators/   — relational query library, dedup, similarity, text, multimodal
  streaming/   — consume pipeline, at-least-once foreachBatch, retry/backoff
  plans/       — plan-audit helpers (pushdown / broadcast / codegen checks)
"""

__version__ = "0.1.0"

from decisions_kinesis_spark.config import (  # noqa: F401
    FilterVerb,
    KinesisQueueConfig,
    KinesisSettings,
    PayloadFilter,
)
from decisions_kinesis_spark.functions.filters import (  # noqa: F401
    apply_payload_filters,
    compile_payload_filters,
)
from decisions_kinesis_spark.session import get_session  # noqa: F401
