"""Queue / settings configuration surface.

Pure-Python port of the reference's user-facing config entities:

- ``PayloadFilter``       ≙ kinesis_payloadfilter rows (KinesisPayloadFilter.cs:13-36)
- ``KinesisQueueConfig``  ≙ KinesisMessageQueue settings (KinesisMessageQueue.cs:29-349)
- ``KinesisSettings``     ≙ global defaults (KinesisSettings.cs:14-119)
- ``validate()``          ≙ GetAdditionalValidationIssues (KinesisMessageQueue.cs:417-472)

The reference persists these via the host platform's ORM; here they are
plain dataclasses loadable from JSON/YAML — the engine's "query
definition" (SURVEY.md §1.5).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class FilterVerb(str, Enum):
    """The 18 comparison verbs (KinesisPayloadFilter.cs:39-65).

    Every comparison in the reference is an *ordinal string* comparison —
    including Greater/Less Than (KinesisThreadJobs.cs:778-800), so
    ``"9" > "10"`` is TRUE.  SURVEY.md §2 filter-verb table.
    """

    EQUALS = "Equals"
    EQUALS_CI = "Equals (Case Insensitive)"
    NOT_EQUALS = "Not Equals"
    NOT_EQUALS_CI = "Not Equals (Case Insensitive)"
    CONTAINS = "Contains"
    CONTAINS_CI = "Contains (Case Insensitive)"
    STARTS_WITH = "Starts With"
    STARTS_WITH_CI = "Starts With (Case Insensitive)"
    ENDS_WITH = "Ends With"
    ENDS_WITH_CI = "Ends With (Case Insensitive)"
    GREATER_THAN = "Greater Than"
    GREATER_THAN_CI = "Greater Than (Case Insensitive)"
    LESS_THAN = "Less Than"
    LESS_THAN_CI = "Less Than (Case Insensitive)"
    GREATER_THAN_OR_EQUAL = "Greater Than or Equal"
    GREATER_THAN_OR_EQUAL_CI = "Greater Than or Equal (Case Insensitive)"
    LESS_THAN_OR_EQUAL = "Less Than or Equal"
    LESS_THAN_OR_EQUAL_CI = "Less Than or Equal (Case Insensitive)"


#: Initial-position option strings (KinesisMessageQueue.cs:352-362).
START_FROM_OLDEST = "Start from oldest record"
START_FROM_LATEST = "Start from latest record"

#: Authentication options (KinesisSettings.cs / KinesisUtils.cs:89-143).
AUTH_DEFAULT = "DefaultCredentials"
AUTH_STATIC = "StaticCredentials"


@dataclass
class PayloadFilter:
    """One JSON-path predicate: (property, verb, value).

    ``property`` is a dotted path into the payload (README.md:147-153,
    e.g. ``user.type``); extraction yields a string (JToken.ToString(),
    KinesisThreadJobs.cs:743) compared against ``value``.
    """

    property: str
    verb: FilterVerb | str
    value: str

    def __post_init__(self) -> None:
        if not isinstance(self.verb, FilterVerb):
            self.verb = FilterVerb(self.verb)


@dataclass
class KinesisSettings:
    """Global module settings (KinesisSettings.cs:14-119)."""

    region: str = "us-east-1"
    authentication_method: str = AUTH_DEFAULT
    access_key_id: str | None = None
    secret_access_key: str | None = None
    use_role_arn: bool = False
    role_arn: str | None = None


@dataclass
class KinesisQueueConfig:
    """Per-queue definition (KinesisMessageQueue.cs:29-349).

    Defaults mirror the reference's (BASELINE.md table): batch size 100,
    3 retries, 10 s timeout, 30 s shard-poll, 1 s batch-wait, 5 s error
    backoff.
    """

    stream_name: str = ""
    initial_stream_position: str = START_FROM_OLDEST
    payload_filters: list[PayloadFilter] = field(default_factory=list)
    use_or: bool = False  # False → AND all filters (KinesisMessageQueue.cs:80-88)
    use_enhanced_fan_out: bool = False
    consumer_arn: str | None = None
    consumer_name: str | None = None
    max_records_per_request: int = 100
    max_retries: int = 3
    request_timeout_s: int = 10
    shard_poll_interval_s: int = 30
    shard_batch_wait_time_s: int = 1
    error_backoff_time_s: int = 5
    override_settings: bool = False
    settings: KinesisSettings = field(default_factory=KinesisSettings)

    def validate(self) -> list[str]:
        """Port of GetAdditionalValidationIssues (KinesisMessageQueue.cs:417-472).

        Returns a list of human-readable issues; empty list = valid.
        """
        issues: list[str] = []
        if not self.stream_name:
            issues.append("Stream Name is required")
        if not self.initial_stream_position:
            issues.append("Initial Stream Position is required")
        elif self.initial_stream_position not in (START_FROM_OLDEST, START_FROM_LATEST):
            issues.append(
                f"Initial Stream Position must be one of: "
                f"{START_FROM_OLDEST!r}, {START_FROM_LATEST!r}"
            )
        if not self.use_enhanced_fan_out:
            if not 1 <= self.max_records_per_request <= 10000:
                issues.append("Max Records Per Request must be between 1 and 10000")
        else:
            has_arn = bool(self.consumer_arn)
            has_name = bool(self.consumer_name)
            if has_arn == has_name:  # neither, or both (ARN xor Name, :430-437)
                issues.append(
                    "Enhanced Fan-Out requires exactly one of Consumer ARN "
                    "or Consumer Name"
                )
        if self.max_retries < 0:
            issues.append("Max Retries must be >= 0")
        if self.request_timeout_s < 1:
            issues.append("Request Timeout must be >= 1 second")
        for i, f in enumerate(self.payload_filters):
            if not f.property:
                issues.append(f"Payload filter #{i}: Property is required")
            if f.value is None or f.value == "":
                issues.append(f"Payload filter #{i}: Value is required")
        if self.override_settings:
            s = self.settings
            if not s.region:
                issues.append("Region is required when overriding settings")
            if not s.authentication_method:
                # KinesisMessageQueue.cs:450-451
                issues.append(
                    "Authentication method must be selected if settings "
                    "are overridden"
                )
            if s.authentication_method == AUTH_STATIC:
                if not s.access_key_id:
                    issues.append("Access Key ID is required for StaticCredentials")
                if not s.secret_access_key:
                    issues.append("Secret Access Key is required for StaticCredentials")
            if s.use_role_arn and not s.role_arn:
                issues.append("Role ARN is required when Use Role ARN is set")
        return issues

    def require_valid(self) -> KinesisQueueConfig:
        issues = self.validate()
        if issues:
            raise ValueError("Invalid queue config: " + "; ".join(issues))
        return self

    # -- (de)serialization (≙ L2 Read/Save round-trip,
    #    KinesisMessageQueue.cs:392-416 — JSON instead of the custom
    #    binary filters_Count/filters_{i} format) -------------------------

    def to_json(self) -> str:
        import dataclasses
        import json

        # a FilterVerb is a str Enum: json writes it as its value
        return json.dumps(dataclasses.asdict(self), indent=2)

    @classmethod
    def from_json(cls, text: str) -> KinesisQueueConfig:
        import json

        d = json.loads(text)
        d["payload_filters"] = [
            PayloadFilter(**f) for f in d.get("payload_filters", [])
        ]
        d["settings"] = KinesisSettings(**d.get("settings", {}))
        return cls(**d)
