"""Config-validation tests — port of GetAdditionalValidationIssues rules
(KinesisMessageQueue.cs:417-472; SURVEY.md §1.5 table)."""

from __future__ import annotations

import pytest

from decisions_kinesis_spark.config import (
    AUTH_STATIC,
    START_FROM_LATEST,
    FilterVerb,
    KinesisQueueConfig,
    KinesisSettings,
    PayloadFilter,
)


def base() -> KinesisQueueConfig:
    return KinesisQueueConfig(stream_name="s", initial_stream_position=START_FROM_LATEST)


def test_valid_default_config():
    assert base().validate() == []


def test_stream_name_required():
    cfg = base()
    cfg.stream_name = ""
    assert any("Stream Name" in i for i in cfg.validate())


def test_initial_position_required_and_enumerated():
    cfg = base()
    cfg.initial_stream_position = ""
    assert any("Initial Stream Position" in i for i in cfg.validate())
    cfg.initial_stream_position = "bogus"
    assert any("Initial Stream Position" in i for i in cfg.validate())


@pytest.mark.parametrize("n,ok", [(0, False), (1, True), (100, True), (10000, True), (10001, False)])
def test_max_records_range_polling_only(n, ok):
    cfg = base()
    cfg.max_records_per_request = n
    assert (cfg.validate() == []) == ok
    # EFO mode skips the range check (KinesisMessageQueue.cs:427-428 guard)
    cfg.use_enhanced_fan_out = True
    cfg.consumer_name = "c"
    assert cfg.validate() == []


def test_efo_requires_arn_xor_name():
    cfg = base()
    cfg.use_enhanced_fan_out = True
    assert any("Enhanced Fan-Out" in i for i in cfg.validate())  # neither
    cfg.consumer_arn, cfg.consumer_name = "arn", "name"
    assert any("Enhanced Fan-Out" in i for i in cfg.validate())  # both
    cfg.consumer_name = None
    assert cfg.validate() == []


def test_retries_and_timeout_bounds():
    cfg = base()
    cfg.max_retries = -1
    cfg.request_timeout_s = 0
    issues = cfg.validate()
    assert any("Max Retries" in i for i in issues)
    assert any("Request Timeout" in i for i in issues)


def test_filter_fields_required():
    cfg = base()
    cfg.payload_filters = [PayloadFilter("", FilterVerb.EQUALS, "")]
    issues = cfg.validate()
    assert any("Property is required" in i for i in issues)
    assert any("Value is required" in i for i in issues)


def test_static_credentials_require_keys():
    cfg = base()
    cfg.override_settings = True
    cfg.settings = KinesisSettings(authentication_method=AUTH_STATIC)
    issues = cfg.validate()
    assert any("Access Key ID" in i for i in issues)
    assert any("Secret Access Key" in i for i in issues)


def test_auth_method_required_when_overriding():
    """KinesisMessageQueue.cs:450-451: overriding settings without
    selecting an authentication method is a fatal validation issue."""
    cfg = base()
    cfg.override_settings = True
    cfg.settings = KinesisSettings(region="us-east-1", authentication_method="")
    assert any("Authentication method must be selected" in i for i in cfg.validate())


def test_role_arn_required_when_enabled():
    cfg = base()
    cfg.override_settings = True
    cfg.settings = KinesisSettings(use_role_arn=True)
    assert any("Role ARN" in i for i in cfg.validate())


def test_require_valid_raises():
    cfg = base()
    cfg.stream_name = ""
    with pytest.raises(ValueError):
        cfg.require_valid()


def test_every_setting_is_read_by_the_package():
    """Each field of KinesisQueueConfig and KinesisSettings is read, as
    an attribute, by package code outside config.py: a setting that
    nothing reads is a knob that does nothing."""
    import ast
    import dataclasses
    from pathlib import Path

    import decisions_kinesis_spark

    root = Path(decisions_kinesis_spark.__file__).parent
    read: set[str] = set()
    for path in root.rglob("*.py"):
        if path == root / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    fields = {
        f"{cls.__name__}.{f.name}": f.name
        for cls in (KinesisQueueConfig, KinesisSettings)
        for f in dataclasses.fields(cls)
    }
    assert [k for k, name in fields.items() if name not in read] == []
