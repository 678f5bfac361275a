"""Every EngineConfig field must be read by the engine package: a field
nothing reads is a setting that silently does nothing."""

from __future__ import annotations

import dataclasses
import pathlib
import re

import crawler_spark
from crawler_spark.engine import EngineConfig


def test_every_engine_config_field_is_read():
    pkg = pathlib.Path(crawler_spark.__file__).parent
    src = "\n".join(p.read_text() for p in sorted(pkg.rglob("*.py")))
    unread = [
        f.name
        for f in dataclasses.fields(EngineConfig)
        if not re.search(rf"\bcfg\.{f.name}\b", src)
    ]
    assert not unread, f"EngineConfig fields never read as cfg.<name>: {unread}"
